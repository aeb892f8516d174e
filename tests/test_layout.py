"""Input-layout decision (functions/layout.py): one round-robin spread
for a scan with too few row groups, the plan untouched otherwise, and
the decision read from file listings and parquet footers alone."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from thrivefinancedatapipeline_spark.functions import layout


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def layouts(spark, tmp_path):
    """The same rows written three ways: one file with one row group,
    one file with `defaultParallelism` row groups, and
    `defaultParallelism` files."""
    p = spark.sparkContext.defaultParallelism
    n = 8 * p
    t = pa.table({"id": list(range(n)), "v": [i * 0.5 for i in range(n)]})
    pq.write_table(t, tmp_path / "one_group.parquet")
    pq.write_table(t, tmp_path / "many_groups.parquet", row_group_size=n // p)
    files = tmp_path / "many_files"
    files.mkdir()
    for i in range(p):
        pq.write_table(t.slice(i * 8, 8), files / f"part-{i}.parquet")
    return {
        name: spark.read.parquet(str(tmp_path / name))
        for name in ("one_group.parquet", "many_groups.parquet", "many_files")
    }


def _no_rdd(monkeypatch, df):
    def boom(self):
        raise AssertionError("the layout decision planned an RDD")

    monkeypatch.setattr(type(df), "rdd", property(boom))


def test_one_row_group_gains_one_round_robin_exchange(layouts, monkeypatch):
    df = layouts["one_group.parquet"]
    _no_rdd(monkeypatch, df)
    spread = layout.ensure_min_parallelism(df)
    assert _plan(df).count("RoundRobinPartitioning") == 0
    assert _plan(spread).count("RoundRobinPartitioning") == 1
    assert _plan(spread).count("Exchange") == _plan(df).count("Exchange") + 1


def test_enough_row_groups_leave_the_plan_alone(layouts, monkeypatch):
    df = layouts["many_groups.parquet"]
    _no_rdd(monkeypatch, df)
    assert layout.ensure_min_parallelism(df) is df


def test_enough_files_read_no_footer(layouts, monkeypatch):
    df = layouts["many_files"]
    _no_rdd(monkeypatch, df)

    class NoJvm:
        def __getattr__(self, name):
            raise AssertionError("read a footer for an already spread scan")

    monkeypatch.setattr(df.sparkSession, "_jvm", NoJvm())
    assert layout.ensure_min_parallelism(df) is df


def test_unreadable_footer_leaves_the_plan_alone(spark, tmp_path, monkeypatch):
    """One file, so the footer is read; it is not parquet, so the read
    raises in the JVM and the decision keeps the plan as it is."""
    (tmp_path / "one.csv").write_text("id,v\n1,0.5\n2,1.0\n")
    df = spark.read.csv(str(tmp_path / "one.csv"), header=True)
    _no_rdd(monkeypatch, df)
    assert len(df.inputFiles()) < spark.sparkContext.defaultParallelism
    assert layout.ensure_min_parallelism(df) is df


def test_both_layouts_give_identical_rows(layouts):
    rows = {
        name: sorted(layout.ensure_min_parallelism(df).collect())
        for name, df in layouts.items()
    }
    want = rows["one_group.parquet"]
    assert len(want) == 8 * len(layouts["many_files"].inputFiles())
    assert all(got == want for got in rows.values())
