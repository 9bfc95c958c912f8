"""StageStore catalog-branch coverage, and the buffered meta-row commit.

The sandbox ships no Iceberg runtime jar and Spark's built-in session
catalog rejects the V2 REPLACE TABLE path (verified:
UNSUPPORTED_FEATURE.TABLE_OPERATION), so the catalog branch cannot run
against a real V2 catalog here. This stub drives every catalog-branch
method of StageStore through duck-typed fakes that mimic the exact
Spark surfaces the branch touches (catalog.tableExists, table, sql,
DataFrame.writeTo → createOrReplace/append/create/partitionedBy), so
the branch's call flow is executed and asserted rather than dead code.
On a real cluster the same calls hit Iceberg via
``spark.sql.catalog.<name>`` configs (see sources/catalog.py docstring).
"""

from __future__ import annotations

from character_identification_spark.session import local_frame
from character_identification_spark.sources.catalog import StageStore


class FakeWriter:
    def __init__(self, store, table, df):
        self.store, self.table, self.df = store, table, df
        self.partition_cols: list = []

    def partitionedBy(self, *cols):
        self.partition_cols = list(cols)
        return self

    def createOrReplace(self):
        self.store.tables[self.table] = {
            "rows": list(self.df.rows),
            "partitioned": [str(c) for c in self.partition_cols],
            "ops": ["createOrReplace"],
        }

    def create(self):
        if self.table in self.store.tables:
            raise AssertionError("create() on existing table")
        self.store.tables[self.table] = {
            "rows": list(self.df.rows), "partitioned": [], "ops": ["create"],
        }

    def append(self):
        self.store.tables[self.table]["rows"].extend(self.df.rows)
        self.store.tables[self.table]["ops"].append("append")


class FakeDF:
    def __init__(self, rows):
        self.rows = rows

    def writeTo(self, table):  # noqa: N802 — mimics the Spark surface
        return FakeWriter(_STORE, table, self)


class FakeCatalog:
    def tableExists(self, name):  # noqa: N802
        return name in _STORE.tables


class FakeSpark:
    catalog = FakeCatalog()

    def table(self, name):
        return FakeDF(list(_STORE.tables[name]["rows"]))

    def sql(self, stmt):
        assert stmt.startswith("DROP TABLE IF EXISTS ")
        _STORE.tables.pop(stmt.removeprefix("DROP TABLE IF EXISTS "), None)


class _Store:
    def __init__(self):
        self.tables: dict = {}


_STORE = _Store()


def test_stage_store_catalog_branch_flow(spark):
    # the real `spark` fixture is needed only because the partitionedBy
    # path builds pyspark Column objects (requires an active context);
    # all catalog I/O goes through the fakes
    _STORE.tables.clear()
    store = StageStore(FakeSpark(), root="/nonexistent", catalog="ice")

    # write → V2 createOrReplace with partitionedBy columns
    store.write(FakeDF([1, 2]), "mentions", partition_by=("block_key",))
    assert store.exists("mentions")
    t = _STORE.tables["ice.mentions"]
    assert t["ops"] == ["createOrReplace"]
    assert any("block_key" in c for c in t["partitioned"])

    # append on a MISSING table must create, not blow up
    store.append(FakeDF([3]), "lineage")
    assert _STORE.tables["ice.lineage"]["ops"] == ["create"]
    # append on an existing table appends
    store.append(FakeDF([4]), "lineage")
    assert _STORE.tables["ice.lineage"]["ops"] == ["create", "append"]
    assert _STORE.tables["ice.lineage"]["rows"] == [3, 4]

    # read round-trips through spark.table
    assert store.read("mentions").rows == [1, 2]

    # delete issues DROP TABLE IF EXISTS and exists() flips
    store.delete("mentions")
    assert not store.exists("mentions")
    # parquet fallback is untouched by catalog mode: root not created
    import os

    assert not os.path.exists("/nonexistent")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_frame_is_a_python_free_local_scan(spark):
    ddl = "stage string, partition_id int, rows long"
    df = local_frame(spark, [("names", 0, 3), ("names", 1, 4)], ddl)
    # createDataFrame(list) plans "Scan ExistingRDD" over a Python map
    assert "LocalTableScan" in _plan(df)
    assert df.dtypes == [("stage", "string"), ("partition_id", "int"), ("rows", "bigint")]
    assert sorted(map(tuple, df.collect())) == [("names", 0, 3), ("names", 1, 4)]
    empty = local_frame(spark, [], ddl)
    assert "LocalTableScan" in _plan(empty)
    assert empty.dtypes == df.dtypes and empty.count() == 0


def test_buffered_rows_commit_once_per_table(spark, tmp_path, monkeypatch):
    appended = []
    orig = StageStore.append
    monkeypatch.setattr(
        StageStore,
        "append",
        lambda self, df, name: (appended.append(name), orig(self, df, name)),
    )
    store = StageStore(spark, str(tmp_path))
    store.buffer("_meta_a", "k string, v long", [("x", 1)])
    store.buffer("_meta_b", "k string", [])
    store.buffer("_meta_a", "k string, v long", [("y", 2), ("z", 3)])
    store.commit_buffered()
    assert appended == ["_meta_a"]  # one write per table; empty tables skipped
    assert sorted(map(tuple, store.read("_meta_a").collect())) == [("x", 1), ("y", 2), ("z", 3)]
    assert not (tmp_path / "_meta_b").exists()
    store.commit_buffered()  # the buffer was emptied by the commit
    assert appended == ["_meta_a"]
