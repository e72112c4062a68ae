"""DDL generation + schema-enforced IO tests
(reference: tests/generators/test_sqlalchemy.py, retargeted to Spark SQL)."""

from __future__ import annotations

from datetime import datetime

import pytest

from flycatcher_spark import Field, Schema
from flycatcher_spark.generators import ddl


class UserSchema(Schema):
    id: int = Field(primary_key=True, autoincrement=True)
    name: str = Field(max_length=50)
    email: str = Field(unique=True, index=True)
    bio: str | None = None
    score: float = 0.0


class TestTableName:
    def test_auto_name(self):
        assert ddl.table_name_for(UserSchema) == "users"

    def test_explicit_name(self):
        assert "CREATE TABLE people" in UserSchema.to_ddl("people")


class TestDDL:
    def test_column_types(self):
        out = UserSchema.to_ddl()
        assert "id BIGINT NOT NULL" in out
        assert "name VARCHAR(50) NOT NULL" in out
        assert "bio STRING" in out
        assert "score DOUBLE NOT NULL DEFAULT 0.0" in out

    def test_informational_constraints(self):
        out = UserSchema.to_ddl()
        assert "PRIMARY KEY (id)" in out
        assert "UNIQUE (email)" in out
        assert "INDEX (email)" in out
        assert "AUTOINCREMENT (id)" in out
        assert "not enforced" in out

    def test_ddl_is_parseable_by_spark(self, spark, tmp_path):
        """The generated statement must actually run."""

        class TinySchema(Schema):
            id: int
            name: str | None = None

        stmt = TinySchema.to_ddl().split("\n--")[0]  # strip info comment
        stmt += f" LOCATION '{tmp_path}/tinys'"
        spark.sql("DROP TABLE IF EXISTS tinys")
        spark.sql(stmt)
        cols = {r["col_name"] for r in spark.sql("DESCRIBE TABLE tinys").collect()}
        assert {"id", "name"} <= cols
        spark.sql("DROP TABLE IF EXISTS tinys")


class TestSchemaEnforcedIO:
    def test_read_applies_schema_csv(self, spark, tmp_path):
        p = tmp_path / "u.csv"
        p.write_text("1,Alice,a@x.com,hey,1.5\n2,Bob,b@x.com,,2.0\n")
        df = ddl.read(spark, UserSchema, str(p), fmt="csv")
        assert dict(df.dtypes)["id"] == "bigint"
        assert dict(df.dtypes)["score"] == "double"
        assert df.count() == 2

    def test_read_parquet_casts_and_prunes(self, spark, tmp_path):
        path = str(tmp_path / "u")
        spark.createDataFrame(
            [(1, "Alice", "a@x.com", "b", 1, "extra")],
            ["id", "name", "email", "bio", "score", "junk"],
        ).write.parquet(path)
        df = ddl.read(spark, UserSchema, path)
        assert "junk" not in df.columns
        assert dict(df.dtypes)["score"] == "double"

    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        """Tables bucketed on the join key must join shuffle-free —
        the Exchange is paid once at write time."""
        from flycatcher_spark.generators import ddl

        a = spark.createDataFrame([(i, i * 2) for i in range(100)], "k long, x long")
        b = spark.createDataFrame(
            [(i, f"v{i}") for i in range(100)], "k long, s string"
        )
        ddl.write_bucketed(a, "bucketed_a", ["k"], num_buckets=4, sort_cols=["k"])
        ddl.write_bucketed(b, "bucketed_b", ["k"], num_buckets=4, sort_cols=["k"])
        try:
            ta = spark.table("bucketed_a")
            tb = spark.table("bucketed_b")
            # disable broadcast so the bucketed path is actually exercised
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                joined = ta.join(tb, "k")
                plan = joined._jdf.queryExecution().executedPlan().toString()
                assert "Exchange" not in plan
                assert joined.count() == 100
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        finally:
            spark.sql("DROP TABLE IF EXISTS bucketed_a")
            spark.sql("DROP TABLE IF EXISTS bucketed_b")

    def test_write_round_trip(self, spark, tmp_path):
        path = str(tmp_path / "out")
        df = spark.createDataFrame([(1, "A"), (2, "B")], ["id", "name"])
        ddl.write(df, path, mode="overwrite", partition_by=["id"])
        back = spark.read.parquet(path)
        assert back.count() == 2
        # partition column materialized as directory structure
        import os

        assert any(
            d.startswith("id=") for d in os.listdir(path) if not d.startswith("_")
        )


class TestCorruptRecordRouting:
    class Doc(Schema):
        doc_id: int = Field(ge=0)
        text: str
        score: float | None = None

    def test_json_routing(self, spark, tmp_path):
        p = tmp_path / "in.json"
        p.write_text(
            '{"doc_id": 1, "text": "ok", "score": 0.5}\n'
            '{"doc_id": 2, "text": "also ok"}\n'
            'this is not json at all\n'
            '{"doc_id": "abc", "text": "type mismatch"}\n'
        )
        good, quarantine = ddl.read_routed(
            spark, self.Doc, str(p), fmt="json"
        )
        rows = {r["doc_id"]: r for r in good.collect()}
        assert set(rows) == {1, 2}
        assert rows[2]["score"] is None
        bad = sorted(r["raw"] for r in quarantine.collect())
        assert bad == [
            "this is not json at all",
            '{"doc_id": "abc", "text": "type mismatch"}',
        ]
        assert good.columns == ["doc_id", "text", "score"]

    def test_csv_routing(self, spark, tmp_path):
        p = tmp_path / "in.csv"
        p.write_text("1,alpha,0.5\nnot_an_int,beta,0.1\n3,gamma,0.9\n")
        good, quarantine = ddl.read_routed(
            spark, self.Doc, str(p), fmt="csv"
        )
        assert {r["doc_id"] for r in good.collect()} == {1, 3}
        assert quarantine.count() == 1
        assert quarantine.collect()[0]["raw"] == "not_an_int,beta,0.1"

    def test_good_rows_feed_the_validator(self, spark, tmp_path):
        p = tmp_path / "v.json"
        p.write_text(
            '{"doc_id": 1, "text": "ok"}\n'
            '{"doc_id": -5, "text": "constraint violation"}\n'
            "garbage line\n"
        )
        good, quarantine = ddl.read_routed(
            spark, self.Doc, str(p), fmt="json"
        )
        v = self.Doc.to_spark_validator()
        kept = v.validate(good, strict=False)
        # parse error and constraint violation are separate ledgers
        assert quarantine.count() == 1
        assert [r["doc_id"] for r in kept.collect()] == [1]
        assert v.last_violations[0]["count"] == 1

    def test_schema_collision_raises(self, spark, tmp_path):
        with pytest.raises(ValueError, match="already defines"):
            ddl.read_routed(
                spark, self.Doc, str(tmp_path), fmt="json", corrupt_col="text"
            )


class TestRangePartitionedWrite:
    def test_file_ranges_are_disjoint_and_sorted(self, spark, tmp_path):
        """The property that enables min/max data skipping: every
        output file owns a disjoint key range (checked from the
        parquet footers, the same statistics a pruning reader uses)."""
        import pyarrow.parquet as pq

        df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        out = str(tmp_path / "sorted")
        ddl.write_range_partitioned(
            df, out, by=["l_orderkey"], num_files=8, mode="overwrite"
        )
        import os

        ranges = []
        for name in sorted(os.listdir(out)):
            if not name.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(out, name)).metadata
            mins, maxs = [], []
            for rg in range(meta.num_row_groups):
                col = next(
                    meta.row_group(rg).column(i)
                    for i in range(meta.num_columns)
                    if meta.row_group(rg).column(i).path_in_schema
                    == "l_orderkey"
                )
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            if mins:
                ranges.append((min(mins), max(maxs)))
        assert len(ranges) >= 2  # actually split into multiple files
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, f"overlapping file ranges: {ranges}"
        # nothing lost
        total = spark.read.parquet(out).count()
        assert total == df.count()
