"""Unit tests for the benchmark's own metric handling; no Spark needed.

    python3 -m pytest perfbench -q
"""

import statistics

import pytest

from probe import (fingerprint, fingerprint_differs, iqr_share,
                   parse_sql_metric, tail_percentile)

MIB, KIB = 2 ** 20, 2 ** 10


@pytest.mark.parametrize("text, value", [
    # task-aggregated metrics: the total is the first value on the last line
    ("total (min, med, max (stageId: taskId))\n114.0 MiB (110.2 KiB, "
     "127.0 KiB, 132.8 KiB (stage 1.0: task 2))", 114.0 * MIB),
    ("total (min, med, max (stageId: taskId))\n12.5 s (3.1 s, 3.1 s, "
     "3.2 s (stage 1.0: task 1))", 12.5),
    ("total (min, med, max (stageId: taskId))\n817 ms (200 ms, 204 ms, "
     "210 ms (stage 3.0: task 9))", 0.817),
    # single values
    ("7 ms", 0.007),
    ("32.7 KiB", 32.7 * KIB),
    ("2.0 m", 120.0),
    ("1.50 h", 5400.0),
    ("0 B", 0.0),
    # counts carry thousands separators and no unit
    ("1,189", 1189.0),
    ("40,000", 40000.0),
])
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "12 furlongs"])
def test_parse_sql_metric_rejects_unknown(text):
    with pytest.raises(ValueError):
        parse_sql_metric(text)


def test_tail_percentile_leaves_ten_samples_beyond():
    samples = [float(x) for x in range(30, 0, -1)]  # unsorted input
    pct, value = tail_percentile(samples)
    assert (pct, value) == (66, 20.0)
    assert sum(s > value for s in samples) == 10


@pytest.mark.parametrize("n, pct", [(11, 9), (20, 50), (100, 90), (1000, 99),
                                    (20000, 99)])
def test_tail_percentile_label(n, pct):
    samples = list(range(n))
    got_pct, value = tail_percentile(samples)
    assert got_pct == pct
    assert sum(s > value for s in samples) == 10


def test_tail_percentile_too_few_samples():
    assert tail_percentile([1.0] * 10) == (0, 0.0)
    assert tail_percentile([]) == (0, 0.0)


def _fp(stages=20, shuffle=15_900_000, python=1, codegen=12):
    return fingerprint({"stages": stages, "shuffle_write_bytes": shuffle,
                        "python_nodes": python, "codegen_stages": codegen})


def test_fingerprint_flip_is_flagged():
    # the corpus_pipeline flip seen on one input: 20 stages / 15.9 MB
    # against 31 stages / 103 MB
    assert fingerprint_differs(_fp(), _fp(stages=31, shuffle=103_000_000))
    assert fingerprint_differs(_fp(), _fp(shuffle=103_000_000))
    assert fingerprint_differs(_fp(), _fp(python=2))
    assert fingerprint_differs(_fp(), _fp(codegen=13))


def test_fingerprint_shuffle_noise_is_not_a_flip():
    assert not fingerprint_differs(_fp(), _fp())
    assert not fingerprint_differs(_fp(), _fp(shuffle=16_500_000))
    assert not fingerprint_differs(_fp(shuffle=0), _fp(shuffle=0))


def test_fingerprint_of_empty_counters():
    assert fingerprint({}) == {"stages": 0, "shuffle_bytes": 0,
                               "python_nodes": 0, "codegen_stages": 0}


def test_iqr_share_matches_statistics_quantiles():
    values = [9.0, 10.0, 10.5, 11.0, 12.0, 10.2, 9.8, 10.1, 10.9, 9.5]
    q1, med, q3 = statistics.quantiles(values, n=4)
    assert iqr_share(values) == pytest.approx((q3 - q1) / med)
