"""Plan-metadata probes behind ``ensure_min_parallelism``."""

from __future__ import annotations

from collections import OrderedDict

from py4j.protocol import Py4JError

from portfolio_data_pipelines_spark import functions as pf


class _FlakyPlan:
    """A DataFrame stand-in whose first ``_jdf`` access raises, as a
    transient py4j error would; later accesses reach the real plan."""

    def __init__(self, df):
        self._df = df
        self.jdf_calls = 0

    @property
    def sparkSession(self):
        return self._df.sparkSession

    def semanticHash(self):
        return self._df.semanticHash()

    @property
    def _jdf(self):
        self.jdf_calls += 1
        if self.jdf_calls == 1:
            raise Py4JError("transient gateway error")
        return self._df._jdf


def test_failed_size_probe_is_not_memoized(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(pf, "_NUM_PARTITIONS_CACHE", OrderedDict())
    path = str(tmp_path / "t")
    spark.range(100).write.parquet(path)
    flaky = _FlakyPlan(spark.read.parquet(path))

    assert pf._plan_size_bytes(flaky) == 0
    assert not pf._NUM_PARTITIONS_CACHE  # the failure left no entry

    size = pf._plan_size_bytes(flaky)  # probes again
    assert flaky.jdf_calls == 2
    assert size > 0
    assert list(pf._NUM_PARTITIONS_CACHE.values()) == [size]

    assert pf._plan_size_bytes(flaky) == size  # now served from the memo
    assert flaky.jdf_calls == 2
