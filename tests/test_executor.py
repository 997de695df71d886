"""End-to-end engine execution: CTAS / views / INSERT / UPDATE / DELETE
against a live SparkSession (the behavior DuckDB provides the reference)."""

from component_duckdb_transformation_spark.configuration import Block, Code
from component_duckdb_transformation_spark.plans.executor import SparkStatementExecutor
from component_duckdb_transformation_spark.plans.orchestrator import BlockOrchestrator


def run_blocks(spark, table_store, blocks):
    ex = SparkStatementExecutor(spark, table_store)
    orch = BlockOrchestrator(execute_script=ex.execute_query, max_workers=4)
    orch.add_queries_from_blocks(blocks)
    return ex, orch.execute()


def test_full_mutation_lifecycle(spark, table_store):
    spark.range(10).selectExpr("id", "id * 2 AS value").createOrReplaceTempView("src")
    blocks = [Block(name="b1", codes=[Code(name="c1", script=[
        "CREATE TABLE t1 AS SELECT * FROM src WHERE id < 8",
        "CREATE VIEW v1 AS SELECT id, value FROM t1 WHERE id >= 2 ORDER BY id DESC",
        "INSERT INTO t1 SELECT 100, 200",
        "UPDATE t1 SET value = value + 1 WHERE id = 100",
        "DELETE FROM t1 WHERE id = 3",
    ])])]
    run_blocks(spark, table_store, blocks)
    rows = sorted(tuple(r) for r in spark.table("t1").collect())
    assert (100, 201) in rows
    assert not any(r[0] == 3 for r in rows)
    v1 = [tuple(r) for r in spark.sql("SELECT * FROM v1").collect()]
    assert v1 == [(100, 201), (7, 14), (6, 12), (5, 10), (4, 8), (2, 4)]


def test_string_literal_view_names(spark, table_store):
    spark.sql("SELECT 1 AS id, 'Monday' AS name").createOrReplaceTempView("days_src")
    blocks = [Block(name="b", codes=[Code(name="c", script=[
        "CREATE VIEW 'week.csv' AS SELECT * FROM days_src",
    ])])]
    run_blocks(spark, table_store, blocks)
    assert spark.sql("SELECT * FROM `week.csv`").count() == 1


def test_create_table_as_from(spark, table_store):
    spark.range(5).createOrReplaceTempView("nums")
    blocks = [Block(name="b", codes=[Code(name="c", script=[
        "CREATE TABLE copy_t AS FROM nums",
    ])])]
    run_blocks(spark, table_store, blocks)
    assert spark.table("copy_t").count() == 5

    # repeated output names: DuckDB renames each repeat to the first
    # free <name>_<n> (compared with DuckDB's own CTAS)
    import duckdb

    ex = SparkStatementExecutor(spark, table_store)
    con = duckdb.connect()
    for select in (
        "SELECT 1 AS k, 2 AS k, 3 AS K",
        "SELECT 1 AS k, 2 AS k_1, 3 AS k",
        "SELECT 1 AS a, 2 AS A, 3 AS a_1, 4 AS a",
    ):
        _run(ex, f"CREATE OR REPLACE TABLE dup_t AS {select}")
        con.execute(f"CREATE OR REPLACE TABLE dup_t AS {select}")
        want = con.execute("SELECT * FROM dup_t")
        assert spark.table("dup_t").columns == [d[0] for d in want.description]
        assert [tuple(r) for r in spark.table("dup_t").collect()] == want.fetchall()


def test_insert_values(spark, table_store):
    blocks = [Block(name="b", codes=[Code(name="c", script=[
        "CREATE TABLE kv AS SELECT 1 AS k, 'a' AS v",
        "INSERT INTO kv VALUES (2, 'b'), (3, 'c')",
    ])])]
    run_blocks(spark, table_store, blocks)
    assert spark.table("kv").count() == 3


def test_bare_ddl_create_then_insert(spark, table_store):
    """DDL-only CREATE TABLE (no AS body) + INSERT — the CREATE->INSERT
    pattern the orchestrator builds edges for (ADVICE r1, high)."""
    blocks = [Block(name="b", codes=[Code(name="c", script=[
        "CREATE TABLE ddl_t (id INTEGER, name VARCHAR, price DOUBLE, "
        "created TIMESTAMP, big HUGEINT)",
        "INSERT INTO ddl_t SELECT 1, 'x', 2.5, TIMESTAMP '2024-01-01 00:00:00', 9",
    ])])]
    run_blocks(spark, table_store, blocks)
    rows = spark.table("ddl_t").collect()
    assert len(rows) == 1
    assert rows[0]["id"] == 1 and rows[0]["name"] == "x"
    dt = dict(spark.table("ddl_t").dtypes)
    assert dt["id"] == "int" and dt["name"] == "string"
    assert dt["big"] == "decimal(38,0)"


def test_bare_ddl_constraints_skipped(spark, table_store):
    blocks = [Block(name="b", codes=[Code(name="c", script=[
        "CREATE TABLE ddl_c (id INT PRIMARY KEY, v VARCHAR(10) NOT NULL, "
        "d DECIMAL(10,2) DEFAULT 0, PRIMARY KEY (id))",
    ])])]
    run_blocks(spark, table_store, blocks)
    dt = dict(spark.table("ddl_c").dtypes)
    assert set(dt) == {"id", "v", "d"}
    assert dt["d"] == "decimal(10,2)"
    assert spark.table("ddl_c").count() == 0


def test_insert_explicit_column_list(spark, table_store):
    """INSERT INTO t (b, a) must align by NAME, not position (ADVICE r1)."""
    blocks = [Block(name="b", codes=[Code(name="c", script=[
        "CREATE TABLE named_t AS SELECT 1 AS a, 'one' AS b, 1.5 AS c",
        "INSERT INTO named_t (b, a) SELECT 'two', 2",
    ])])]
    run_blocks(spark, table_store, blocks)
    rows = {r["a"]: (r["b"], r["c"]) for r in spark.table("named_t").collect()}
    assert rows[2] == ("two", None)
    assert rows[1] == ("one", 1.5)


def test_drop_table_and_recreate(spark, table_store):
    from component_duckdb_transformation_spark.configuration import Block, Code
    from component_duckdb_transformation_spark.plans.executor import SparkStatementExecutor
    from component_duckdb_transformation_spark.plans.orchestrator import BlockOrchestrator

    ex = SparkStatementExecutor(spark, table_store)
    orch = BlockOrchestrator(execute_script=ex.execute_query, max_workers=4)
    orch.add_queries_from_blocks(
        [
            Block(
                name="b",
                codes=[
                    Code(
                        name="c",
                        script=[
                            "CREATE TABLE dt AS SELECT 1 AS x",
                            "DROP TABLE dt",
                            "CREATE TABLE dt AS SELECT 2 AS x",
                            "CREATE VIEW dv AS SELECT 9 AS y",
                            "DROP VIEW dv",
                            "DROP VIEW IF EXISTS dv_nothere",
                        ],
                    )
                ],
            )
        ]
    )
    orch.execute()
    assert [r.x for r in spark.table("dt").collect()] == [2]
    assert not spark.catalog.tableExists("dv")
    assert "dt" in table_store.tables and "dv" not in table_store.tables


def test_drop_missing_without_if_exists_raises(spark, table_store):
    import pytest

    from component_duckdb_transformation_spark.exceptions import UserException
    from component_duckdb_transformation_spark.plans.executor import SparkStatementExecutor
    from component_duckdb_transformation_spark.plans.sql_parser import parse_statement

    ex = SparkStatementExecutor(spark, table_store)
    with pytest.raises(UserException, match="does not exist"):
        ex._execute_statement(parse_statement("DROP TABLE definitely_not_here"))


def test_concurrent_inserts_single_table(spark, table_store):
    """Same-table INSERTs from parallel threads must all land (the
    per-table write lock serializes the directory append; without it,
    concurrent FileOutputCommitter jobs can delete each other's
    staging files)."""
    import threading

    table_store.create_table("conc", spark.range(0).withColumnRenamed("id", "v"))

    def do_insert(lo):
        table_store.insert_into(
            "conc", spark.range(lo, lo + 100).withColumnRenamed("id", "v")
        )

    threads = [threading.Thread(target=do_insert, args=(i * 100,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    rows = spark.table("conc").collect()
    assert len(rows) == 600
    assert {r.v for r in rows} == set(range(600))


def _run(ex, sql):
    from component_duckdb_transformation_spark.plans.sql_parser import parse_script

    for st in parse_script(sql):
        ex._execute_statement(st)


def test_update_from_join_update(spark, table_store):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE uft AS SELECT id, CAST(amt AS DOUBLE) AS amt "
             "FROM (VALUES (1, 10.0), (2, 20.0), (3, 30.0)) v(id, amt)")
    _run(ex, "CREATE TABLE ufd AS SELECT id, CAST(boost AS DOUBLE) AS boost "
             "FROM (VALUES (1, 100.0), (3, 300.0)) v(id, boost)")
    _run(ex, "UPDATE uft SET amt = ufd.boost FROM ufd WHERE uft.id = ufd.id")
    got = {(r.id, r.amt) for r in spark.table("uft").collect()}
    assert got == {(1, 100.0), (2, 20.0), (3, 300.0)}
    # every row matches both FROM rows: DuckDB updates each row once,
    # from either match, where MERGE would raise
    _run(ex, "UPDATE uft SET amt = ufd.boost FROM ufd")
    got = sorted(r.amt for r in spark.table("uft").collect())
    assert len(got) == 3 and set(got) <= {100.0, 300.0}


def test_alter_table_forms(spark, table_store):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )
    import pytest
    from component_duckdb_transformation_spark.exceptions import UserException

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE alt AS SELECT * FROM (VALUES (1), (2)) v(id)")
    _run(ex, "ALTER TABLE alt ADD COLUMN tag VARCHAR DEFAULT 'x'")
    assert spark.table("alt").columns == ["id", "tag"]
    _run(ex, "ALTER TABLE alt ADD COLUMN IF NOT EXISTS tag VARCHAR")
    _run(ex, "ALTER TABLE alt RENAME COLUMN tag TO label")
    _run(ex, "ALTER TABLE alt ALTER COLUMN id TYPE BIGINT")
    assert [f.dataType.simpleString() for f in spark.table("alt").schema.fields] == [
        "bigint", "string"
    ]
    _run(ex, "ALTER TABLE alt DROP COLUMN label")
    _run(ex, "ALTER TABLE alt RENAME TO alt2")
    assert {r.id for r in spark.table("alt2").collect()} == {1, 2}
    _run(ex, "ALTER TABLE IF EXISTS ghost ADD COLUMN x INT")  # noop
    with pytest.raises(UserException):
        _run(ex, "ALTER TABLE ghost ADD COLUMN x INT")


def test_columns_macro_in_executor(spark, table_store):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE cm AS SELECT * FROM "
             "(VALUES (1, 2, 'a'), (3, 4, 'b')) v(k_one, k_two, s)")
    _run(ex, "CREATE TABLE cm_out AS SELECT COLUMNS('k_.*') FROM cm")
    assert spark.table("cm_out").columns == ["k_one", "k_two"]
    _run(ex, "CREATE TABLE cm_agg AS SELECT max(COLUMNS('k_.*')) FROM cm")
    assert spark.table("cm_agg").columns == ["k_one", "k_two"]
    assert spark.table("cm_agg").collect()[0].asDict() == {"k_one": 3, "k_two": 4}


def test_merge_into_all_clause_kinds(spark, table_store):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE mt AS SELECT id, CAST(v AS DOUBLE) AS v, s FROM "
             "(VALUES (1, 10.0, 'keep'), (2, 20.0, 'upd'), (3, 30.0, 'del'), "
             "(4, 40.0, 'keep')) x(id, v, s)")
    _run(ex, "CREATE TABLE ms AS SELECT id, CAST(nv AS DOUBLE) AS nv FROM "
             "(VALUES (2, 200.0), (3, -1.0), (5, 50.0), (6, 60.0)) x(id, nv)")
    _run(ex, """
        MERGE INTO mt USING ms ON mt.id = ms.id
        WHEN MATCHED AND ms.nv < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = ms.nv, s = 'merged'
        WHEN NOT MATCHED AND ms.nv >= 60 THEN INSERT (id, v, s)
             VALUES (ms.id, ms.nv, 'big')
        WHEN NOT MATCHED THEN INSERT (id, v, s) VALUES (ms.id, ms.nv, 'new')
    """)
    got = {(r.id, r.v, r.s) for r in spark.table("mt").collect()}
    assert got == {
        (1, 10.0, "keep"), (2, 200.0, "merged"), (4, 40.0, "keep"),
        (5, 50.0, "new"), (6, 60.0, "big"),
    }


def test_merge_multi_match_errors(spark, table_store):
    import pytest
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE mm AS SELECT * FROM (VALUES (1, 10)) x(id, v)")
    _run(ex, "CREATE TABLE mms AS SELECT * FROM (VALUES (1, 1), (1, 2)) x(id, nv)")
    with pytest.raises(Exception, match="matched multiple"):
        _run(ex, "MERGE INTO mm USING mms ON mm.id = mms.id "
                 "WHEN MATCHED THEN UPDATE SET v = mms.nv")


def test_merge_not_matched_by_source(spark, table_store):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE bst AS SELECT * FROM "
             "(VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')) x(id, s)")
    _run(ex, "CREATE TABLE bss AS SELECT * FROM (VALUES (1), (2)) x(id)")
    _run(ex, """
        MERGE INTO bst USING bss ON bst.id = bss.id
        WHEN MATCHED THEN UPDATE SET s = 'hit'
        WHEN NOT MATCHED BY SOURCE AND bst.id = 3 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET s = 'stale'
    """)
    got = {(r.id, r.s) for r in spark.table("bst").collect()}
    assert got == {(1, "hit"), (2, "hit"), (4, "stale")}


def test_same_batch_merges_serialize(spark, table_store):
    """Two MERGEs into one target in the same parallel batch: merge is
    read-modify-write over the copy-on-write store, so the orchestrator's
    writer-serialization edges are what keeps the second merge from
    clobbering the first. Both must land."""
    from component_duckdb_transformation_spark.configuration import Block, Code
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )
    from component_duckdb_transformation_spark.plans.orchestrator import (
        BlockOrchestrator,
    )

    ex = SparkStatementExecutor(spark, table_store)
    orch = BlockOrchestrator(execute_script=ex.execute_query, max_workers=4)
    orch.add_queries_from_blocks([
        Block(name="b", codes=[
            Code(name="setup", script=[
                "CREATE TABLE cmt AS SELECT * FROM (VALUES "
                "(1, 0), (2, 0), (3, 0), (4, 0)) v(id, hits)",
                "CREATE TABLE cms1 AS SELECT * FROM (VALUES (1), (2), (5)) v(id)",
                "CREATE TABLE cms2 AS SELECT * FROM (VALUES (2), (3), (6)) v(id)",
            ]),
            Code(name="m1", script=[
                "MERGE INTO cmt USING cms1 ON cmt.id = cms1.id "
                "WHEN MATCHED THEN UPDATE SET hits = cmt.hits + 1 "
                "WHEN NOT MATCHED THEN INSERT VALUES (cms1.id, 1)",
            ]),
            Code(name="m2", script=[
                "MERGE INTO cmt USING cms2 ON cmt.id = cms2.id "
                "WHEN MATCHED THEN UPDATE SET hits = cmt.hits + 1 "
                "WHEN NOT MATCHED THEN INSERT VALUES (cms2.id, 1)",
            ]),
        ])
    ])
    orch.execute()
    got = {(r.id, r.hits) for r in spark.table("cmt").collect()}
    assert got == {(1, 1), (2, 2), (3, 1), (4, 0), (5, 1), (6, 1)}
    # the two merges must not share a batch (writer-serialization edge)
    for block in orch.build_block_execution_plan():
        for batch in block.batches:
            names = {q.name for q in batch}
            assert not {"m1", "m2"} <= names, names
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE dp AS SELECT * FROM (VALUES "
             "('a', 'x', 1), ('a', 'y', 2), ('b', 'x', 3), ('b', 'x', 4)"
             ") v(k, p, val)")
    _run(ex, "CREATE TABLE dp_out AS PIVOT dp ON p USING sum(val) GROUP BY k")
    assert spark.table("dp_out").columns == ["k", "x", "y"]
    got = {(r.k, r.x, r.y) for r in spark.table("dp_out").collect()}
    assert got == {("a", 1, 2), ("b", 7, None)}


def test_insert_by_name(spark, table_store):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE bn (x INT, y VARCHAR)")
    _run(ex, "INSERT INTO bn BY NAME SELECT 'hello' AS y, 42 AS x")
    assert [tuple(r) for r in spark.table("bn").collect()] == [(42, "hello")]
    # missing column -> NULL (DuckDB semantics)
    _run(ex, "INSERT INTO bn BY NAME SELECT 7 AS x")
    got = {tuple(r) for r in spark.table("bn").collect()}
    assert got == {(42, "hello"), (7, None)}


def test_engine_statements_are_noops(spark, table_store):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    # none of these may raise; scripts containing them keep running
    _run(ex, "PRAGMA memory_limit='2GB'")
    _run(ex, "CHECKPOINT")
    _run(ex, "SET memory_limit='2GB'")
    _run(ex, "VACUUM")
    _run(ex, "CREATE TABLE noop_ok AS SELECT 1 AS x")
    assert spark.table("noop_ok").count() == 1


def test_copy_to_csv_and_parquet(spark, table_store, tmp_path):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE cpy AS SELECT * FROM "
             "(VALUES (1, 'a,x'), (2, 'b')) v(id, s)")
    csv_path = str(tmp_path / "out.csv")
    _run(ex, f"COPY cpy TO '{csv_path}' (HEADER, DELIMITER ',')")
    lines = open(csv_path).read().splitlines()
    assert lines[0] == "id,s"
    assert sorted(lines[1:]) == ['1,"a,x"', "2,b"]
    pq_path = str(tmp_path / "out.parquet")
    _run(ex, f"COPY (SELECT id * 10 AS d FROM cpy) TO '{pq_path}' "
             "(FORMAT PARQUET)")
    assert sorted(r.d for r in spark.read.parquet(pq_path).collect()) == [10, 20]


def test_dynamic_pivot_in_list_and_multi_agg(spark, table_store):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE dpx AS SELECT * FROM (VALUES "
             "('a', 'x', 1), ('a', 'y', 2), ('b', 'x', 3), ('b', 'z', 9)"
             ") v(k, p, val)")
    # IN list restricts + orders the value columns as listed
    _run(ex, "CREATE TABLE dpx1 AS PIVOT dpx ON p IN ('y', 'x') "
             "USING sum(val) GROUP BY k")
    assert spark.table("dpx1").columns == ["k", "y", "x"]
    # multiple aliased aggregates -> value_alias column pairs
    _run(ex, "CREATE TABLE dpx2 AS PIVOT dpx ON p "
             "USING count(*) AS n, max(val) AS mx GROUP BY k")
    assert spark.table("dpx2").columns == [
        "k", "x_n", "x_mx", "y_n", "y_mx", "z_n", "z_mx"
    ]
    got = {tuple(r) for r in spark.table("dpx2").collect()}
    assert ("a", 1, 1, 1, 2, 0, None) in got
    assert ("b", 1, 3, 0, None, 1, 9) in got


def test_scalar_macros(spark, table_store):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE MACRO add_tax(p, r) AS p * (1 + r)")
    _run(ex, "CREATE MACRO taxed_twice(p) AS add_tax(add_tax(p, 0.1), 0.1)")
    _run(ex, "CREATE TABLE mac AS SELECT CAST(add_tax(100.0, 0.2) AS DOUBLE) "
             "AS a, round(CAST(taxed_twice(100.0) AS DOUBLE), 2) AS b")
    assert [tuple(r) for r in spark.table("mac").collect()] == [(120.0, 121.0)]
    # OR REPLACE redefines; DROP removes
    _run(ex, "CREATE OR REPLACE MACRO add_tax(p, r) AS p")
    _run(ex, "CREATE TABLE mac2 AS SELECT CAST(add_tax(7.0, 0.9) AS DOUBLE) AS a")
    assert spark.table("mac2").collect()[0].a == 7.0
    _run(ex, "DROP MACRO add_tax")
    # a column merely NAMED like a macro is untouched after drop
    _run(ex, "CREATE TABLE mac3 AS SELECT 1 AS add_tax")
    assert spark.table("mac3").columns == ["add_tax"]


def test_summarize_statement(spark, table_store):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE sz AS SELECT * FROM (VALUES "
             "(1, 'a', CAST(1.5 AS DOUBLE)), (2, 'b', NULL), "
             "(3, NULL, CAST(2.5 AS DOUBLE))) v(id, s, x)")
    _run(ex, "SUMMARIZE sz")
    rows = {r.column_name: r for r in spark.table("summarize").collect()}
    assert set(rows) == {"id", "s", "x"}
    assert rows["id"].min == "1" and rows["id"].max == "3"
    assert rows["id"]["count"] == 3 and rows["id"].null_percentage == 0.0
    assert rows["s"].null_percentage == 33.33 and rows["s"].avg is None
    assert rows["x"].avg == 2.0 and rows["x"].approx_unique == 2
    # scripts can consume the registered view
    _run(ex, "CREATE TABLE sz_out AS SELECT column_name FROM summarize "
             "WHERE null_percentage > 0")
    assert {r.column_name for r in spark.table("sz_out").collect()} == {"s", "x"}


def test_table_macro(spark, table_store):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE tm AS SELECT * FROM (VALUES (1, 'a'), (2, 'b'), "
             "(3, 'c')) v(id, s)")
    _run(ex, "CREATE MACRO top_ids(k) AS TABLE SELECT id FROM tm WHERE id <= k")
    _run(ex, "CREATE TABLE tm_out AS SELECT * FROM top_ids(2)")
    assert sorted(r.id for r in spark.table("tm_out").collect()) == [1, 2]


def test_union_by_name(spark, table_store):
    """UNION [ALL] BY NAME expands schema-aware in the executor:
    NULL fills, first-appearance column order, distinct-after-align,
    CTE-scoped branches (DuckDB semantics, diffed below)."""
    import duckdb

    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE ubn_a AS SELECT 1 AS a, 2 AS b")
    _run(ex, "CREATE TABLE ubn_b AS SELECT 30 AS b, 40 AS c")
    con = duckdb.connect()
    con.execute("CREATE TABLE ubn_a AS SELECT 1 AS a, 2 AS b")
    con.execute("CREATE TABLE ubn_b AS SELECT 30 AS b, 40 AS c")
    key = lambda rows: sorted(
        rows, key=lambda r: tuple((v is None, str(v)) for v in r)
    )
    shapes = [
        "SELECT * FROM ubn_a UNION ALL BY NAME SELECT * FROM ubn_b",
        "SELECT * FROM ubn_a UNION BY NAME SELECT b, a FROM ubn_a",
        "SELECT a FROM ubn_a UNION BY NAME SELECT b FROM ubn_b "
        "UNION ALL BY NAME SELECT c FROM ubn_b ORDER BY a NULLS FIRST",
        "WITH x AS (SELECT a * 10 AS a10 FROM ubn_a) "
        "SELECT a10 FROM x UNION ALL BY NAME SELECT b AS bb FROM ubn_b",
    ]
    for i, q in enumerate(shapes):
        _run(ex, f"CREATE TABLE ubn_out{i} AS {q}")
        sdf = spark.table(f"ubn_out{i}")
        cur = con.execute(q)
        exp_cols = [d[0] for d in cur.description]
        assert sdf.columns == exp_cols, (q, sdf.columns, exp_cols)
        assert key(tuple(r) for r in sdf.collect()) == key(cur.fetchall()), q
    # unresolvable branch (unknown table) leaves the statement to fail
    import pytest

    with pytest.raises(Exception):
        _run(ex, "CREATE TABLE ubn_bad AS SELECT 1 AS a "
                 "UNION BY NAME SELECT z FROM no_such_table")


def test_delete_using(spark, table_store):
    """DELETE FROM t USING src WHERE pred — anti-join delete (DuckDB/
    Postgres form), added in round 6."""
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE del_t AS SELECT * FROM "
             "(VALUES (1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)) v(k, p)")
    _run(ex, "CREATE TABLE del_s AS SELECT * FROM (VALUES (1), (3)) v(k)")
    _run(ex, "DELETE FROM del_t USING del_s WHERE del_t.k = del_s.k")
    rows = sorted(tuple(r) for r in spark.table("del_t").collect())
    assert [r[0] for r in rows] == [2, 4]
    # no matches deletes nothing
    _run(ex, "DELETE FROM del_t USING del_s WHERE del_t.k = del_s.k + 100")
    assert spark.table("del_t").count() == 2


def test_truncate_and_create_if_not_exists(spark, table_store):
    """TRUNCATE [TABLE] empties in place; CREATE TABLE IF NOT EXISTS on
    an existing table is a no-op, not a silent replace (round-6 probes)."""
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE tr_t (k INTEGER, name VARCHAR, p DOUBLE)")
    _run(ex, "INSERT INTO tr_t VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    # existing table: schema must NOT change to the 1-column form
    _run(ex, "CREATE TABLE IF NOT EXISTS tr_t (k INTEGER)")
    assert spark.table("tr_t").columns == ["k", "name", "p"]
    assert spark.table("tr_t").count() == 2
    _run(ex, "TRUNCATE tr_t")
    assert spark.table("tr_t").count() == 0
    assert spark.table("tr_t").columns == ["k", "name", "p"]
    _run(ex, "INSERT INTO tr_t VALUES (9, 'z', 9.9)")
    _run(ex, "TRUNCATE TABLE tr_t")
    assert spark.table("tr_t").count() == 0
    # IF NOT EXISTS on a missing table creates it
    _run(ex, "CREATE TABLE IF NOT EXISTS tr_new AS SELECT 5 AS x")
    assert spark.table("tr_new").count() == 1


def test_create_view_if_not_exists_is_noop(spark, table_store):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE vine_t AS SELECT 1 AS x")
    _run(ex, "CREATE VIEW vine_v AS SELECT x + 1 AS y FROM vine_t")
    _run(ex, "CREATE VIEW IF NOT EXISTS vine_v AS SELECT 99 AS y")
    assert [r.y for r in spark.table("vine_v").collect()] == [2]


def test_primary_key_constraint_inserts(spark, table_store):
    """DuckDB constraint semantics on PK tables (all outcomes verified
    against DuckDB 1.0: duplicate-key errors, OR REPLACE upsert,
    OR IGNORE skip, ON CONFLICT DO NOTHING/DO UPDATE with excluded)."""
    import pytest as _pytest

    from component_duckdb_transformation_spark.exceptions import UserException
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE pkt (a INTEGER PRIMARY KEY, b VARCHAR)")
    _run(ex, "INSERT INTO pkt VALUES (1, 'x'), (2, 'y')")
    with _pytest.raises(UserException, match="primary key"):
        _run(ex, "INSERT INTO pkt VALUES (1, 'z')")
    _run(ex, "INSERT OR REPLACE INTO pkt VALUES (1, 'z'), (3, 'w')")
    assert sorted(tuple(r) for r in spark.table("pkt").collect()) == [
        (1, "z"), (2, "y"), (3, "w"),
    ]
    _run(ex, "INSERT OR IGNORE INTO pkt VALUES (1, 'q'), (4, 'v')")
    assert sorted(tuple(r) for r in spark.table("pkt").collect()) == [
        (1, "z"), (2, "y"), (3, "w"), (4, "v"),
    ]
    # duplicate key WITHIN the batch errors, even for OR REPLACE
    with _pytest.raises(UserException, match="duplicate key"):
        _run(ex, "INSERT OR REPLACE INTO pkt VALUES (9, 'a'), (9, 'b')")
    _run(
        ex,
        "INSERT INTO pkt VALUES (1, 'u'), (5, 'n') "
        "ON CONFLICT (a) DO UPDATE SET b = excluded.b || '!'",
    )
    assert sorted(tuple(r) for r in spark.table("pkt").collect()) == [
        (1, "u!"), (2, "y"), (3, "w"), (4, "v"), (5, "n"),
    ]
    _run(
        ex,
        "INSERT INTO pkt VALUES (2, 'skip'), (6, 'm') ON CONFLICT DO NOTHING",
    )
    assert (2, "y") in {tuple(r) for r in spark.table("pkt").collect()}
    # a table without declared keys rejects the constraint forms
    _run(ex, "CREATE TABLE nokey (x INT)")
    with _pytest.raises(UserException, match="no UNIQUE/PRIMARY KEY"):
        _run(ex, "INSERT OR REPLACE INTO nokey VALUES (1)")
    # within-batch duplicate on the FIRST insert into a fresh PK table:
    # the known-empty fast path (clash join skipped, r13-opt) must
    # still run the batch-dup probe
    _run(ex, "CREATE TABLE pkt0 (a INTEGER PRIMARY KEY, b VARCHAR)")
    with _pytest.raises(UserException, match="duplicate key"):
        _run(ex, "INSERT INTO pkt0 VALUES (7, 'a'), (7, 'b')")
    # ...and after data lands, the clash probe is live again
    _run(ex, "INSERT INTO pkt0 VALUES (7, 'a')")
    with _pytest.raises(UserException, match="primary key"):
        _run(ex, "INSERT INTO pkt0 VALUES (7, 'c')")
    # composite table-level key
    _run(ex, "CREATE TABLE ck (a INT, b INT, c INT, PRIMARY KEY (a, b))")
    _run(ex, "INSERT INTO ck VALUES (1, 1, 9)")
    _run(ex, "INSERT INTO ck VALUES (1, 2, 9)")
    with _pytest.raises(UserException, match="primary key"):
        _run(ex, "INSERT INTO ck VALUES (1, 1, 5)")


def test_constraints_hold_on_merge_and_on_conflict(spark, table_store):
    """MERGE and ON CONFLICT DO UPDATE reach the same constraint probe
    as UPDATE and INSERT: each statement raises DuckDB 1.0's error and
    leaves the table as it was. DuckDB 1.0 has no MERGE, so each MERGE
    is compared with the UPDATE ... FROM or INSERT it amounts to."""
    import duckdb
    import pytest

    from component_duckdb_transformation_spark.exceptions import UserException
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    con = duckdb.connect()
    for s in (
        "CREATE TABLE qs AS SELECT 1 AS k, CAST(NULL AS INTEGER) AS b",
        "CREATE TABLE s5 AS SELECT * FROM (VALUES (5), (5)) v(k)",
        "CREATE TABLE s7 AS SELECT * FROM (VALUES (7)) v(k)",
    ):
        _run(ex, s)
        con.execute(s)
    upsert = "INSERT INTO p VALUES (1, 5, 5) ON CONFLICT (k) DO UPDATE SET "
    matched = "MERGE INTO p USING qs ON p.k = qs.k WHEN MATCHED THEN UPDATE SET "
    cases = [
        (upsert + "b = NULL", None),
        (upsert + "c = -1", None),
        (upsert + "k = 3", None),
        (matched + "b = qs.b", "UPDATE p SET b = qs.b FROM qs WHERE p.k = qs.k"),
        (matched + "k = 2", "UPDATE p SET k = 2 FROM qs WHERE p.k = qs.k"),
        (matched + "c = -3", "UPDATE p SET c = -3 FROM qs WHERE p.k = qs.k"),
        (
            "MERGE INTO p USING s5 s ON p.k = s.k "
            "WHEN NOT MATCHED THEN INSERT VALUES (s.k, 1, 1)",
            "INSERT INTO p SELECT s.k, 1, 1 FROM s5 s",
        ),
        (
            "MERGE INTO p USING s7 s ON p.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)",
            "INSERT INTO p (k) SELECT s.k FROM s7 s",
        ),
    ]
    for ours, duck in cases:
        for s in (
            "DROP TABLE IF EXISTS p",
            "CREATE TABLE p (k INTEGER PRIMARY KEY, b INTEGER NOT NULL, "
            "c INTEGER CHECK (c > 0))",
            "INSERT INTO p VALUES (1, 1, 1), (2, 2, 2)",
        ):
            _run(ex, s)
            con.execute(s)
        with pytest.raises(duckdb.Error) as want:
            con.execute(duck or ours)
        # the error class and its first clause, e.g. "Constraint
        # Error: NOT NULL constraint failed"
        prefix = ":".join(str(want.value).split(":")[:2])
        with pytest.raises(UserException) as got:
            _run(ex, ours)
        assert str(got.value).startswith(prefix), (ours, str(got.value), prefix)
        rows = sorted(tuple(r) for r in spark.table("p").collect())
        assert rows == con.execute("FROM p ORDER BY k").fetchall(), ours
        assert rows == [(1, 1, 1), (2, 2, 2)], ours


def test_not_null_and_check_constraints(spark, table_store):
    """INSERT-time NOT NULL / CHECK enforcement (DuckDB-verified: a
    NULL passes a CHECK, violates NOT NULL)."""
    import pytest as _pytest

    from component_duckdb_transformation_spark.exceptions import UserException
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE nn (a INT NOT NULL, b INT)")
    with _pytest.raises(UserException, match="NOT NULL constraint"):
        _run(ex, "INSERT INTO nn VALUES (NULL, 2)")
    _run(ex, "INSERT INTO nn VALUES (1, NULL)")
    assert spark.table("nn").count() == 1
    _run(ex, "CREATE TABLE ch (a INT CHECK (a > 0), b INT, CHECK (a < b))")
    with _pytest.raises(UserException, match="CHECK constraint"):
        _run(ex, "INSERT INTO ch VALUES (-1, 2)")
    with _pytest.raises(UserException, match="CHECK constraint"):
        _run(ex, "INSERT INTO ch VALUES (9, 2)")
    # NULL passes a CHECK (DuckDB semantics) but the whole batch fails
    # atomically when any row violates
    _run(ex, "INSERT INTO ch VALUES (5, 7), (NULL, 1)")
    assert spark.table("ch").count() == 2


def test_describe_and_show_statements(spark, table_store):
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE dsc AS SELECT * FROM (VALUES "
             "(1, 'a', CAST(1.5 AS DOUBLE), array(1, 2)))"
             " v(id, s, x, arr)")
    _run(ex, "DESCRIBE dsc")
    rows = {r.column_name: r for r in spark.table("describe").collect()}
    assert list(rows) == ["id", "s", "x", "arr"]
    assert rows["s"].column_type == "VARCHAR"
    assert rows["x"].column_type == "DOUBLE"
    assert rows["arr"].column_type == "INTEGER[]"
    assert rows["id"].null in ("YES", "NO")
    # DESCRIBE SELECT analyzes without executing
    _run(ex, "DESCRIBE SELECT id + 1 AS n, s FROM dsc")
    rows = [r.column_name for r in spark.table("describe").collect()]
    assert rows == ["n", "s"]
    # SHOW <t> == DESCRIBE <t>; SHOW TABLES lists relations
    _run(ex, "SHOW dsc")
    assert [r.column_name for r in spark.table("describe").collect()] == [
        "id", "s", "x", "arr"
    ]
    _run(ex, "SHOW TABLES")
    names = {r.name for r in spark.table("show_tables").collect()}
    assert "dsc" in names
    # scripts can consume the registered view
    _run(ex, "CREATE TABLE dsc_cols AS SELECT column_name FROM describe "
             "WHERE column_type = 'VARCHAR'")
    assert [r.column_name for r in spark.table("dsc_cols").collect()] == ["s"]


def test_read_csv_auto_and_read_json(spark, table_store, tmp_path):
    import duckdb

    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    # DuckDB writes the files (its own sniffer is the reference)
    con = duckdb.connect()
    csv_path = str(tmp_path / "people.csv")
    json_path = str(tmp_path / "people.json")
    con.execute(
        "COPY (SELECT * FROM (VALUES (1, 'ann', 1.5), (2, 'bob', NULL), "
        "(3, 'c,d', 2.25)) v(id, name, score)) TO '%s' (HEADER)" % csv_path
    )
    con.execute(
        "COPY (SELECT * FROM (VALUES (1, 'ann'), (2, 'bob')) v(id, name)) "
        "TO '%s' (FORMAT JSON)" % json_path
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE from_csv AS SELECT * FROM read_csv_auto('%s') "
             "ORDER BY id" % csv_path)
    want = con.execute(
        "SELECT * FROM read_csv_auto('%s') ORDER BY id" % csv_path
    ).fetchall()
    got = [tuple(r) for r in spark.table("from_csv").orderBy("id").collect()]
    assert got == [tuple(r) for r in want]

    _run(ex, "CREATE TABLE from_json AS SELECT id, name "
             "FROM read_json_auto('%s') ORDER BY id" % json_path)
    got = [tuple(r) for r in spark.table("from_json").orderBy("id").collect()]
    assert got == [(1, "ann"), (2, "bob")]

    # named options: header + delim
    psv_path = str(tmp_path / "pipe.csv")
    con.execute(
        "COPY (SELECT * FROM (VALUES (1, 'x'), (2, 'y')) v(a, b)) "
        "TO '%s' (HEADER, DELIMITER '|')" % psv_path
    )
    _run(ex, "CREATE TABLE from_psv AS SELECT * FROM "
             "read_csv('%s', header=true, delim='|') ORDER BY a" % psv_path)
    got = [tuple(r) for r in spark.table("from_psv").orderBy("a").collect()]
    assert got == [(1, "x"), (2, "y")]

    # unsupported option fails loudly, no silent divergence
    import pytest as _pytest

    from component_duckdb_transformation_spark.exceptions import (
        UserException,
    )
    with _pytest.raises(UserException, match="unsupported options"):
        _run(ex, "CREATE TABLE nope AS SELECT * FROM "
                 "read_csv('%s', quote='~')" % csv_path)


def test_sequences(spark, table_store):
    import duckdb

    from component_duckdb_transformation_spark.exceptions import (
        UserException,
    )
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    con = duckdb.connect()
    script = [
        "CREATE SEQUENCE ids START 10 INCREMENT 2",
        "CREATE TABLE seq_src AS SELECT * FROM (VALUES ('a'), ('b'), "
        "('c')) v(x)",
        "CREATE TABLE seq_out AS SELECT nextval('ids') AS id, x "
        "FROM seq_src",
        "INSERT INTO seq_out SELECT nextval('ids') AS id, 'd' AS x",
        "CREATE TABLE seq_cur AS SELECT currval('ids') AS c",
    ]
    for s in script:
        _run(ex, s)
        con.execute(s)
    # the id SET and currval match DuckDB exactly; the id<->row pairing
    # follows scan order (physical-order contract, like POSITIONAL
    # JOIN — a parquet round-trip does not preserve insertion order)
    want_ids = sorted(r[0] for r in con.execute(
        "SELECT id FROM seq_out").fetchall())
    got_ids = sorted(r.id for r in spark.table("seq_out").collect())
    assert got_ids == want_ids == [10, 12, 14, 16]
    assert sorted(r.x for r in spark.table("seq_out").collect()) == [
        "a", "b", "c", "d"
    ]
    assert [tuple(r) for r in spark.table("seq_cur").collect()] == [
        tuple(r) for r in con.execute("SELECT * FROM seq_cur").fetchall()
    ]

    # CYCLE wraps like DuckDB
    for s in ["CREATE SEQUENCE cyc MAXVALUE 2 CYCLE",
              "CREATE TABLE cyc_out AS SELECT nextval('cyc') AS n "
              "FROM seq_src"]:
        _run(ex, s)
        con.execute(s)
    want = sorted(r[0] for r in con.execute("SELECT n FROM cyc_out").fetchall())
    got = sorted(r.n for r in spark.table("cyc_out").collect())
    assert got == want == [1, 1, 2]

    import pytest

    # bounded sequence errors once exhausted
    _run(ex, "CREATE SEQUENCE cap MAXVALUE 2")
    _run(ex, "CREATE TABLE cap_ok AS SELECT nextval('cap') AS n "
             "FROM (VALUES (1), (2)) v(i)")
    with pytest.raises(UserException, match="maximum value"):
        _run(ex, "CREATE TABLE cap_no AS SELECT nextval('cap') AS n "
                 "FROM seq_src")

    # currval before any nextval / unknown sequence / drop semantics
    _run(ex, "CREATE SEQUENCE fresh")
    with pytest.raises(UserException, match="not yet defined"):
        _run(ex, "CREATE TABLE nope1 AS SELECT currval('fresh') AS c")
    with pytest.raises(UserException, match="does not exist"):
        _run(ex, "CREATE TABLE nope2 AS SELECT nextval('missing') AS c")
    _run(ex, "DROP SEQUENCE fresh")
    with pytest.raises(UserException, match="does not exist"):
        _run(ex, "DROP SEQUENCE fresh")
    _run(ex, "DROP SEQUENCE IF EXISTS fresh")


def test_enum_types(spark, table_store):
    import pytest

    from component_duckdb_transformation_spark.exceptions import (
        UserException,
    )
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    _run(ex, "CREATE TABLE person (name VARCHAR, m mood)")
    _run(ex, "INSERT INTO person VALUES ('a', 'happy'), ('b', 'sad')")
    got = sorted(tuple(r) for r in spark.table("person").collect())
    assert got == [("a", "happy"), ("b", "sad")]
    # invalid value rejected at INSERT like DuckDB's conversion error
    with pytest.raises(Exception, match="(?i)check|convert"):
        _run(ex, "INSERT INTO person VALUES ('c', 'angry')")
    # casts validate; enum_range expands to the value list
    _run(ex, "CREATE TABLE mr AS SELECT 'ok'::mood AS m, "
             "enum_range(NULL::mood) AS vals")
    row = spark.table("mr").collect()[0]
    assert row.m == "ok" and row.vals == ["sad", "ok", "happy"]
    with pytest.raises(Exception, match="Could not convert string"):
        _run(ex, "CREATE TABLE bad AS SELECT CAST('angry' AS mood) AS m")
    # NULL passes through the cast
    _run(ex, "CREATE TABLE mn AS SELECT NULL::mood AS m")
    assert spark.table("mn").collect()[0].m is None
    # type catalog semantics
    with pytest.raises(UserException, match="already exists"):
        _run(ex, "CREATE TYPE mood AS ENUM ('x')")
    _run(ex, "DROP TYPE mood")
    with pytest.raises(UserException, match="does not exist"):
        _run(ex, "DROP TYPE mood")
    _run(ex, "DROP TYPE IF EXISTS mood")
    with pytest.raises(UserException, match="AS ENUM"):
        _run(ex, "CREATE TYPE pair AS STRUCT(a INT, b INT)")


def test_insert_returning(spark, table_store):
    import duckdb

    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    con = duckdb.connect()
    script = [
        "CREATE TABLE ret_t AS SELECT 1 AS a, 'x' AS b",
        "INSERT INTO ret_t VALUES (2, 'y'), (3, 'z') RETURNING a * 10 "
        "AS a10, b",
    ]
    for s in script:
        _run(ex, s)
    want = sorted(tuple(r) for r in con.execute(script[0]).fetchall() or [])
    want = sorted(tuple(r) for r in con.execute(script[1]).fetchall())
    got = sorted(tuple(r) for r in spark.table("returning").collect())
    assert got == want == [(20, "y"), (30, "z")]
    # RETURNING * yields target-aligned rows
    _run(ex, "INSERT INTO ret_t (b, a) VALUES ('w', 4) RETURNING *")
    got = [tuple(r) for r in spark.table("returning").collect()]
    assert got == [(4, "w")]


def test_update_delete_returning(spark, table_store):
    import duckdb

    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    con = duckdb.connect()
    setup = (
        "CREATE TABLE udr AS SELECT * FROM (VALUES "
        "(1, CAST(10 AS DOUBLE)), (2, CAST(20 AS DOUBLE)), "
        "(3, CAST(30 AS DOUBLE))) v(id, p)"
    )
    upd = "UPDATE udr SET p = p * 2 WHERE id >= 2 RETURNING id, p AS new_p"
    _run(ex, setup)
    con.execute(setup)
    _run(ex, upd)
    want = sorted(tuple(r) for r in con.execute(upd).fetchall())
    got = sorted(tuple(r) for r in spark.table("returning").collect())
    assert got == want == [(2, 40.0), (3, 60.0)]
    stmt = "DELETE FROM udr WHERE p > 50 RETURNING *"
    _run(ex, stmt)
    want = sorted(tuple(r) for r in con.execute(stmt).fetchall())
    got = sorted(tuple(r) for r in spark.table("returning").collect())
    assert got == want == [(3, 60.0)]
    assert sorted(r.id for r in spark.table("udr").collect()) == [1, 2]


def test_enum_ordinal_semantics(spark, table_store):
    """DuckDB orders enums by declaration position: ORDER BY, min/max,
    and enum-vs-enum range comparisons are positional; enum-vs-bare-
    VARCHAR comparisons are LEXICAL (the enum side casts to varchar).
    Every expectation here was diffed against DuckDB 1.x directly
    (('low','medium','high') is deliberately not alphabetical)."""
    import pytest

    from component_duckdb_transformation_spark.exceptions import (
        UserException,
    )
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TYPE sev AS ENUM ('low', 'medium', 'high')")
    _run(ex, "CREATE TABLE sev_t (id BIGINT, level sev)")
    _run(ex, "INSERT INTO sev_t VALUES (1,'high'),(2,'low'),(3,'medium'),"
             "(4,'high'),(5,NULL),(6,'low')")
    _run(ex, "CREATE TABLE sev_ord AS SELECT id FROM sev_t "
             "ORDER BY level, id")
    assert [r.id for r in spark.table("sev_ord").collect()] == [
        2, 6, 3, 1, 4, 5,  # low, low, medium, high, high, NULL-last
    ]
    # enum-vs-enum comparison: positional
    _run(ex, "CREATE TABLE sev_cmp AS SELECT id FROM sev_t "
             "WHERE level > 'low'::sev ORDER BY id")
    assert [r.id for r in spark.table("sev_cmp").collect()] == [1, 3, 4]
    # enum-vs-bare-varchar: LEXICAL, like DuckDB ('high' < 'low' < 'medium')
    _run(ex, "CREATE TABLE sev_lex AS SELECT id FROM sev_t "
             "WHERE level > 'low' ORDER BY id")
    assert [r.id for r in spark.table("sev_lex").collect()] == [3]
    # min/max: positional
    _run(ex, "CREATE TABLE sev_mm AS SELECT CAST(min(level) AS VARCHAR) "
             "AS lo, CAST(max(level) AS VARCHAR) AS hi FROM sev_t")
    row = spark.table("sev_mm").collect()[0]
    assert (row.lo, row.hi) == ("low", "high")
    # column-vs-column positional (self join)
    _run(ex, "CREATE TABLE sev_jj AS SELECT a.id AS i1, b.id AS i2 "
             "FROM sev_t a JOIN sev_t b ON a.id < b.id "
             "WHERE a.level < b.level ORDER BY 1, 2")
    assert sorted(tuple(r) for r in spark.table("sev_jj").collect()) == [
        (2, 3), (2, 4), (3, 4),
    ]
    # non-member literal in a positional comparison raises, not 0-compares
    with pytest.raises(UserException, match="Could not convert string"):
        _run(ex, "CREATE TABLE sev_bad AS SELECT id FROM sev_t "
                 "WHERE level > 'zzz'::sev")


def test_update_time_constraint_validation(spark, table_store):
    """DuckDB enforces NOT NULL / CHECK / PRIMARY KEY on UPDATE too;
    violations must raise BEFORE the COW rewrite (table unchanged)."""
    import pytest

    from component_duckdb_transformation_spark.exceptions import (
        UserException,
    )
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE upc (k BIGINT PRIMARY KEY, a BIGINT NOT NULL, "
             "b BIGINT CHECK (b > 0))")
    _run(ex, "INSERT INTO upc VALUES (1, 1, 5), (2, 2, 6)")
    with pytest.raises(UserException, match="NOT NULL constraint"):
        _run(ex, "UPDATE upc SET a = NULL WHERE k = 1")
    with pytest.raises(UserException, match="CHECK constraint"):
        _run(ex, "UPDATE upc SET b = -1 WHERE k = 2")
    # DuckDB 1.0's text for a key an UPDATE duplicates
    with pytest.raises(
        UserException, match='Duplicate key "k: 1" violates primary key constraint'
    ):
        _run(ex, "UPDATE upc SET k = 1 WHERE k = 2")
    # failed updates must not have mutated the table
    assert sorted(tuple(r) for r in spark.table("upc").collect()) == [
        (1, 1, 5), (2, 2, 6),
    ]
    # updates not touching constrained columns skip the probe and work
    _run(ex, "UPDATE upc SET b = 9 WHERE k = 1")
    assert sorted(tuple(r) for r in spark.table("upc").collect()) == [
        (1, 1, 9), (2, 2, 6),
    ]
    # UPDATE ... FROM validates too
    _run(ex, "CREATE TABLE upc_src AS SELECT 1 AS kk, "
             "CAST(NULL AS BIGINT) AS na")
    with pytest.raises(UserException, match="NOT NULL constraint"):
        _run(ex, "UPDATE upc SET a = upc_src.na FROM upc_src "
                 "WHERE upc.k = upc_src.kk")


def test_alter_constraint_metadata_follows(spark, table_store):
    """Constraints follow ALTER like DuckDB: RENAME COLUMN keeps
    NOT NULL/CHECK/PK bound to the new name, DROP COLUMN removes
    dependent CHECKs, and a PK column refuses to drop (Catalog
    Error) — all probed against DuckDB directly."""
    import pytest

    from component_duckdb_transformation_spark.exceptions import (
        UserException,
    )
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE alc (k BIGINT PRIMARY KEY, a BIGINT NOT NULL, "
             "b BIGINT CHECK (b > 0))")
    _run(ex, "INSERT INTO alc VALUES (1, 1, 5)")
    _run(ex, "ALTER TABLE alc RENAME COLUMN a TO a2")
    with pytest.raises(UserException, match="NOT NULL.*alc.a2"):
        _run(ex, "INSERT INTO alc VALUES (2, NULL, 6)")
    _run(ex, "ALTER TABLE alc RENAME COLUMN b TO b2")
    with pytest.raises(UserException, match="CHECK constraint"):
        _run(ex, "INSERT INTO alc VALUES (3, 3, -5)")
    with pytest.raises(UserException, match="Cannot drop column"):
        _run(ex, "ALTER TABLE alc DROP COLUMN k")
    _run(ex, "ALTER TABLE alc DROP COLUMN b2")  # CHECK goes with it
    _run(ex, "INSERT INTO alc VALUES (4, 4)")
    assert sorted(tuple(r) for r in spark.table("alc").collect()) == [
        (1, 1), (4, 4),
    ]


def test_star_replace_preserves_column_order(spark, table_store):
    """SELECT * REPLACE keeps the replaced column in its ORIGINAL
    position like DuckDB (positional consumers depend on it); the
    schema-free dialect fallback appends instead, so the executor
    expands schema-aware for single-table scopes."""
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE srp AS SELECT * FROM "
             "(VALUES (1, 'a', 10.0), (2, 'b', 20.0)) t(k, s, v)")
    _run(ex, "CREATE TABLE srp1 AS SELECT * REPLACE (upper(s) AS s) "
             "FROM srp ORDER BY k")
    assert spark.table("srp1").columns == ["k", "s", "v"]
    assert [tuple(r) for r in spark.table("srp1").collect()] == [
        (1, "A", 10.0), (2, "B", 20.0),
    ]
    _run(ex, "CREATE TABLE srp2 AS SELECT * EXCLUDE (v) "
             "REPLACE (k * 10 AS k) FROM srp ORDER BY k")
    assert spark.table("srp2").columns == ["k", "s"]
    assert sorted(tuple(r) for r in spark.table("srp2").collect()) == [
        (10, "a"), (20, "b"),
    ]
    # aliased single-table scope resolves through the alias
    _run(ex, "CREATE TABLE srp3 AS SELECT a.* REPLACE (v + 1 AS v) "
             "FROM srp a ORDER BY k")
    assert spark.table("srp3").columns == ["k", "s", "v"]
    assert sorted(tuple(r) for r in spark.table("srp3").collect()) == [
        (1, "a", 11.0), (2, "b", 21.0),
    ]


def test_sequences_shuffled_source_distributed(spark, table_store):
    """nextval over a shuffled source (GROUP BY / JOIN): the executor
    materializes the non-sequence columns to scratch parquet and
    numbers the parquet scan in file order. Values are a dense
    1..N · inc progression and the sequence advances correctly."""
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE sh_src AS SELECT range % 53 AS k, range AS v "
             "FROM range(5000)")
    _run(ex, "CREATE SEQUENCE sh_ids START 5 INCREMENT 3")
    _run(ex, "CREATE TABLE sh_out AS SELECT nextval('sh_ids') AS id, k, "
             "sum(v) AS sv FROM sh_src GROUP BY k")
    # the materialization path (not the single-task fallback) ran
    assert ex._seq_mat_counter == 1
    got = sorted(r.id for r in spark.table("sh_out").collect())
    assert got == [5 + 3 * i for i in range(53)]
    # JOIN source continues the sequence
    _run(ex, "CREATE TABLE sh_out2 AS SELECT nextval('sh_ids') AS id, "
             "a.k FROM (SELECT DISTINCT k FROM sh_src) a JOIN "
             "(SELECT DISTINCT k FROM sh_src WHERE k < 20) b ON a.k = b.k")
    assert ex._seq_mat_counter == 2
    got2 = sorted(r.id for r in spark.table("sh_out2").collect())
    base = 5 + 3 * 53
    assert got2 == [base + 3 * i for i in range(20)]
    # ORDER BY in the source pins the assignment order (file order of
    # the sorted materialization)
    _run(ex, "CREATE SEQUENCE sh_ord")
    _run(ex, "CREATE TABLE sh_out3 AS SELECT nextval('sh_ord') AS id, k "
             "FROM (SELECT k, sum(v) AS sv FROM sh_src GROUP BY k "
             "ORDER BY k) z")
    rows = sorted((r.k, r.id) for r in spark.table("sh_out3").collect())
    assert all(rid == k + 1 for k, rid in rows), rows[:10]
    # INSERT ... RETURNING over a shuffled source
    _run(ex, "CREATE TABLE sh_tgt (id BIGINT, k BIGINT)")
    _run(ex, "CREATE SEQUENCE sh_ins")
    _run(ex, "INSERT INTO sh_tgt SELECT nextval('sh_ins'), k FROM "
             "(SELECT k, count(*) AS c FROM sh_src GROUP BY k) z "
             "RETURNING *")
    assert spark.sql(
        "SELECT count(DISTINCT id) d FROM sh_tgt"
    ).collect()[0].d == 53
    assert spark.sql("SELECT count(*) c FROM returning").collect()[0].c == 53
    # unrebuildable shape (unaliased expression item): still correct,
    # numbered directly over the shuffled source
    mat_before = ex._seq_mat_counter
    _run(ex, "CREATE SEQUENCE sh_fb")
    _run(ex, "CREATE TABLE sh_fb_out AS SELECT nextval('sh_fb') AS id, "
             "k + 0 FROM (SELECT k FROM sh_src GROUP BY k) z")
    assert ex._seq_mat_counter == mat_before  # fallback, not rebuilt
    n = spark.sql(
        "SELECT count(DISTINCT id) d FROM sh_fb_out"
    ).collect()[0].d
    assert n == 53


def test_failed_ctas_replace_keeps_previous_version(spark, table_store):
    """A CREATE OR REPLACE TABLE that fails at runtime leaves the table
    as it was (DuckDB: [1] stays), so a later INSERT appends to the old
    version — it must not land in the failed version's directory."""
    import os

    import pytest

    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE fc AS SELECT 1 AS a")
    with pytest.raises(Exception):
        _run(ex, "CREATE OR REPLACE TABLE fc AS SELECT CAST('x' AS INTEGER) AS a")
    _run(ex, "INSERT INTO fc VALUES (2)")
    assert sorted(r.a for r in spark.table("fc").collect()) == [1, 2]
    # the failed version's staged directory is gone
    table_dir = os.path.dirname(table_store.tables["fc"].path)
    assert sorted(os.listdir(table_dir)) == ["v1"]
    # a failed CTAS of a NEW name publishes nothing
    with pytest.raises(Exception):
        _run(ex, "CREATE TABLE fc_new AS SELECT CAST('x' AS INTEGER) AS a")
    assert "fc_new" not in table_store.tables


def test_seq_materialize_shuffled_shapes(spark, table_store):
    """Shape gate of the scratch-parquet rebuild: constants-only
    residue around the call, AS-aliased / bare-column / star items,
    renumbered bare ordinals pass (and, under allow_rename, unaliased
    expression items); ALL, non-constant residue, DISTINCT, and
    ordinals referencing the sequence item bail."""
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE ms_src AS SELECT range AS a, range * 2 AS b "
             "FROM range(100)")
    ok = ex._seq_materialize_shuffled(
        "SELECT nextval('s') + 10 AS id, a, ms_src.b, a + b AS c "
        "FROM ms_src GROUP BY a, b"
    )
    assert ok is not None
    outer, view = ok
    assert view.startswith("__seq_mat_")
    assert "nextval" in outer and "`c`" in outer and "`b`" in outer
    # bare ordinal renumbers for the dropped sequence item (2 -> 1)
    ok2 = ex._seq_materialize_shuffled(
        "SELECT nextval('s') AS id, a FROM ms_src GROUP BY 2 ORDER BY 2"
    )
    assert ok2 is not None
    mat2 = spark.table(ok2[1])
    assert mat2.columns == ["a"]
    # unaliased expression items rebuild only under allow_rename
    # (positional INSERT — output names irrelevant)
    expr_q = "SELECT nextval('s') AS id, a + 1 FROM ms_src GROUP BY a"
    assert ex._seq_materialize_shuffled(expr_q) is None
    ok3 = ex._seq_materialize_shuffled(expr_q, allow_rename=True)
    assert ok3 is not None and "__seq_c1" in ok3[0]
    for bad in (
        # GROUP BY ALL
        "SELECT nextval('s') AS id, a FROM ms_src GROUP BY ALL",
        # ordinal referencing the sequence item itself
        "SELECT nextval('s') AS id, a FROM ms_src GROUP BY a ORDER BY 1",
        # ordinal inside an expression (not a bare list element)
        "SELECT nextval('s') AS id, a FROM ms_src GROUP BY a ORDER BY a + 2",
        # non-constant residue around the call
        "SELECT nextval('s') + a AS id, a FROM ms_src GROUP BY a",
        # DISTINCT select
        "SELECT DISTINCT nextval('s') AS id, a FROM ms_src",
    ):
        assert ex._seq_materialize_shuffled(bad) is None, bad


def test_star_replace_nested_scope_not_outer_expanded(spark, table_store):
    """* REPLACE inside a nested subquery or CTE body must NOT be
    expanded with the OUTER depth-0 FROM table's column list (the
    pre-round-8 scan rewrote every star occurrence when the replaced
    names happened to be a subset of the outer table's columns)."""
    import duckdb

    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    con = duckdb.connect()
    setup = [
        "CREATE TABLE srt AS SELECT * FROM (VALUES (1, 10), (2, 20), "
        "(3, 30)) v(a, b)",
        "CREATE TABLE sru AS SELECT * FROM (VALUES (1, 100), (2, 200)) "
        "v(a, b)",
    ]
    cases = [
        # nested subquery star-REPLACE: inner scope is sru, whose
        # replaced name 'a' is also a column of the outer srt
        "CREATE TABLE srr1 AS SELECT a, b FROM srt WHERE a IN "
        "(SELECT a FROM (SELECT * REPLACE (a + 1 AS a) FROM sru) z)",
        # CTE body star-REPLACE where the CTE name shadows a stored
        # table: the body's scope is sru, not the shadowing outer name
        "CREATE TABLE srr2 AS WITH srt AS "
        "(SELECT * REPLACE (b * 2 AS b) FROM sru) "
        "SELECT a, b FROM srt",
        # depth-0 star-REPLACE still expands in place (column order)
        "CREATE TABLE srr3 AS SELECT * REPLACE (b + 1 AS b) FROM srt",
    ]
    for s in setup + cases:
        _run(ex, s)
        con.execute(s)
    for t in ("srr1", "srr2", "srr3"):
        want = sorted(tuple(r) for r in con.execute(
            f"SELECT * FROM {t}").fetchall())
        got = sorted(tuple(r) for r in spark.table(t).collect())
        assert got == want, (t, want, got)
        # column ORDER also matches (positional-consumer contract)
        wcols = [d[0] for d in con.execute(
            f"SELECT * FROM {t} LIMIT 0").description]
        assert [f.name for f in spark.table(t).schema.fields] == wcols, t


def test_copy_to_invalidates_all_cached_read_views(spark, table_store, tmp_path):
    """COPY TO a path must invalidate EVERY cached read_csv view of
    that path (one exists per distinct option set) — previously only
    the first re-registered view saw the new data while the others
    kept serving the pre-COPY snapshot and stale inferred schema."""
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    p = str(tmp_path / "cp.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    # two cached views of the same path with different option sets
    _run(ex, f"CREATE TABLE cv1 AS SELECT * FROM read_csv('{p}')")
    _run(ex, f"CREATE TABLE cv2 AS SELECT * FROM "
             f"read_csv('{p}', all_varchar = true)")
    assert spark.table("cv1").count() == 2
    # overwrite the file through COPY TO
    _run(ex, "CREATE TABLE cnew AS SELECT * FROM (VALUES (7, 'q'), "
             "(8, 'r'), (9, 's')) v(a, b)")
    _run(ex, f"COPY cnew TO '{p}' (HEADER, DELIMITER ',')")
    # BOTH option-set variants must see the new data
    _run(ex, f"CREATE TABLE cv1b AS SELECT * FROM read_csv('{p}')")
    _run(ex, f"CREATE TABLE cv2b AS SELECT * FROM "
             f"read_csv('{p}', all_varchar = true)")
    assert sorted(r.a for r in spark.table("cv1b").collect()) == [7, 8, 9]
    assert sorted(r.a for r in spark.table("cv2b").collect()) == [
        "7", "8", "9"
    ]


def test_sequence_rebuild_expression_items_and_ordinals(spark, tmp_path):
    """Shuffled-source nextval: unaliased expression items auto-alias
    under positional INSERT, and GROUP/ORDER ordinals renumber for the
    dropped sequence item — both previously kept the single-task
    window fallback. Contract: the value multiset matches DuckDB, ids
    are the exact arithmetic progression, and OUR pairing follows the
    statement's ORDER BY (id assignment order on a grouped source is
    engine-specific in DuckDB too — it pairs by pre-sort hash order —
    so exact pairing parity is not a portable contract; COVERAGE.md)."""
    import duckdb as _d

    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
        TableStore,
    )
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_statement,
    )

    sf = "/root/testdata/sf0.001"
    spark.read.parquet(f"{sf}/orders.parquet").createOrReplaceTempView(
        "orders"
    )
    ex = SparkStatementExecutor(spark, TableStore(spark, str(tmp_path)))
    con = _d.connect()
    con.execute(
        f"CREATE VIEW orders AS FROM read_parquet('{sf}/orders.parquet')"
    )
    script = [
        "CREATE SEQUENCE sq START 100 INCREMENT 2",
        "CREATE TABLE t (id BIGINT, s VARCHAR, v DOUBLE)",
        "INSERT INTO t SELECT nextval('sq'), upper(o_orderstatus) || '!', "
        "sum(o_totalprice) FROM orders GROUP BY o_orderstatus "
        "ORDER BY o_orderstatus",
        "INSERT INTO t SELECT nextval('sq'), o_orderstatus AS s, "
        "avg(o_totalprice) AS v FROM orders GROUP BY o_orderstatus "
        "ORDER BY 3 DESC",
    ]
    for s in script:
        ex._execute_statement(parse_statement(s))
        con.execute(s)
    got = [
        (r.id, r.s, round(r.v, 4))
        for r in spark.sql("SELECT * FROM t ORDER BY id").collect()
    ]
    want = [
        (r[0], r[1], round(r[2], 4))
        for r in con.sql("SELECT * FROM t ORDER BY id").fetchall()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]  # same id stream
    assert sorted(g[1:] for g in got) == sorted(w[1:] for w in want)
    # OUR pairing follows each statement's ORDER BY
    first = dict((g[0], g[1]) for g in got[:3])
    assert first == {100: "F!", 102: "O!", 104: "P!"}
    by_v = [g for g in got[3:]]
    assert [g[2] for g in by_v] == sorted(
        (g[2] for g in by_v), reverse=True
    )
    # the scratch-parquet rebuild actually ran (views registered)
    mats = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("__seq_mat")
    ]
    assert len(mats) >= 2


def test_enum_through_setop_ctas(spark, table_store):
    """Set-operation CTAS bodies inherit enum-ness POSITIONALLY (r12):
    same-enum branches stay positional downstream, enum-vs-varchar and
    enum-vs-other-enum decay to lexical VARCHAR — DuckDB's union
    typing, verified live in the r12 probes."""
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TYPE mood12 AS ENUM ('sad', 'ok', 'happy')")
    _run(ex, "CREATE TYPE tier12 AS ENUM ('lo', 'hi')")
    _run(ex, "CREATE TABLE pp12(name VARCHAR, m mood12)")
    _run(ex, "CREATE TABLE cc12(name VARCHAR, m mood12, t tier12)")
    _run(ex, "INSERT INTO pp12 VALUES ('a', 'happy'), ('b', 'sad'), ('c', 'ok')")
    _run(ex, "INSERT INTO cc12 VALUES ('d', 'ok', 'lo'), ('e', 'happy', 'hi')")
    # same enum on both branches: ORDER BY stays positional
    _run(ex, "CREATE TABLE uu12 AS SELECT name, m FROM pp12"
             " UNION ALL SELECT name, m FROM cc12")
    _run(ex, "CREATE TABLE rr12 AS SELECT name,"
             " row_number() OVER (ORDER BY m, name) AS rnk FROM uu12")
    got = sorted(tuple(r) for r in spark.table("rr12").collect())
    # positional order: sad(1) < ok(2,3) < happy(4,5)
    assert got == [("a", 4), ("b", 1), ("c", 2), ("d", 3), ("e", 5)], got
    # enum-vs-other-enum decays to lexical VARCHAR (like DuckDB)
    _run(ex, "CREATE TABLE ux12 AS SELECT m FROM pp12"
             " UNION ALL SELECT t AS m FROM cc12")
    _run(ex, "CREATE TABLE rx12 AS SELECT CAST(min(m) AS VARCHAR) AS lo FROM ux12")
    assert [tuple(r) for r in spark.table("rx12").collect()] == [("happy",)]


def test_sequence_setop_insert_counted(spark, table_store):
    """r14 (r13 ADVICE corner): FROM-less INSERT bodies with depth-0
    set operations / OFFSET / filters — the sequence advance must match
    DuckDB exactly. Differentially pinned: DuckDB evaluates the single
    nextval span once per FROM-less branch row and advances by 1 even
    when EXCEPT or OFFSET then drops the row, while LIMIT 0 / WHERE
    false short-circuit and do NOT advance."""
    import duckdb

    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
    )

    scripts = [
        # depth-0 UNION ALL: nextval branch is one row -> advance 1
        [
            "CREATE SEQUENCE su START 5 INCREMENT 3",
            "CREATE TABLE so_out (id BIGINT, x VARCHAR)",
            "INSERT INTO so_out SELECT nextval('su'), 'a' "
            "UNION ALL SELECT 99, 'b'",
            "INSERT INTO so_out SELECT nextval('su'), 'c'",
            "CREATE TABLE so_cur AS SELECT currval('su') AS c",
        ],
        # EXCEPT eliminates the row, the advance still happens
        [
            "CREATE SEQUENCE su START 5 INCREMENT 3",
            "CREATE TABLE so_out (id BIGINT)",
            "INSERT INTO so_out SELECT nextval('su') EXCEPT SELECT 5",
            "INSERT INTO so_out SELECT nextval('su')",
            "CREATE TABLE so_cur AS SELECT currval('su') AS c",
        ],
        # OFFSET drops the row, the advance still happens
        [
            "CREATE SEQUENCE su START 5 INCREMENT 3",
            "CREATE TABLE so_out (id BIGINT)",
            "INSERT INTO so_out SELECT nextval('su') OFFSET 1",
            "INSERT INTO so_out SELECT nextval('su')",
            "CREATE TABLE so_cur AS SELECT currval('su') AS c",
        ],
        # WHERE false short-circuits: no evaluation, no advance
        [
            "CREATE SEQUENCE su START 5 INCREMENT 3",
            "CREATE TABLE so_out (id BIGINT)",
            "INSERT INTO so_out SELECT nextval('su') WHERE 1 = 0",
            "INSERT INTO so_out SELECT nextval('su')",
            "CREATE TABLE so_cur AS SELECT nextval('su') AS c",
        ],
    ]
    for i, script in enumerate(scripts):
        ex = SparkStatementExecutor(spark, table_store)
        con = duckdb.connect()
        for s in script:
            _run(ex, s)
            con.execute(s)
        want = sorted(
            tuple(r)
            for r in con.execute("SELECT * FROM so_out").fetchall()
        )
        got = sorted(tuple(r) for r in spark.table("so_out").collect())
        assert got == want, (i, got, want)
        assert [tuple(r) for r in spark.table("so_cur").collect()] == [
            tuple(r) for r in con.execute("SELECT * FROM so_cur").fetchall()
        ], i
        _run(ex, "DROP TABLE so_out")
        _run(ex, "DROP TABLE so_cur")


def _both(ex, con, sql):
    _run(ex, sql)
    con.execute(sql)


def _rows_match_duckdb(spark, con, table):
    def plain(v):
        if hasattr(v, "asDict"):
            return {k: plain(x) for k, x in v.asDict().items()}
        if isinstance(v, list):
            return [plain(x) for x in v]
        return v

    got = sorted(tuple(plain(v) for v in r) for r in spark.table(table).collect())
    want = sorted(tuple(r) for r in con.execute(f"SELECT * FROM {table}").fetchall())
    assert got == want


def test_set_lists_split_only_at_top_level_commas(spark, table_store):
    """A comma inside a list or struct literal is not an assignment
    boundary: UPDATE, MERGE ... UPDATE SET and ON CONFLICT DO UPDATE
    SET keep ``[1, 2]`` and ``{'x': 1, 'y': 2}`` whole (DuckDB 1.0 has
    no MERGE: its equivalent UPDATE is the oracle; it refuses to update
    a list column of a table with a key, so those assign to ``b`` and ``c``)."""
    import duckdb

    ex = SparkStatementExecutor(spark, table_store)
    con = duckdb.connect()
    _both(ex, con, "CREATE TABLE set_t AS SELECT 1 AS k, [0, 0] AS a, 5 AS b, {'x': 0, 'y': 0} AS s")
    _both(ex, con, "UPDATE set_t SET a = [1, 2], b = 3 WHERE k = 1")
    _both(ex, con, "UPDATE set_t SET s = {'x': 1, 'y': 2}, b = b + 1")
    _both(ex, con, "CREATE TABLE set_pk (k INTEGER PRIMARY KEY, a INTEGER[], b INTEGER, c INTEGER)")
    _both(ex, con, "INSERT INTO set_pk VALUES (1, [0], 0, 0), (2, [0], 0, 0)")
    _both(ex, con, "INSERT INTO set_pk VALUES (1, [5], 5, 5) ON CONFLICT (k) DO UPDATE SET b = [7, 8][2], c = 9")
    _rows_match_duckdb(spark, con, "set_t")
    _rows_match_duckdb(spark, con, "set_pk")
    _run(ex, "CREATE TABLE set_src AS SELECT 2 AS k")
    _run(ex, "MERGE INTO set_pk USING set_src ON set_pk.k = set_src.k "
             "WHEN MATCHED THEN UPDATE SET b = [3, 4][1], c = 1")
    con.execute("UPDATE set_pk SET b = [3, 4][1], c = 1 WHERE k = 2")
    _rows_match_duckdb(spark, con, "set_pk")


def test_ddl_list_column_type_matches_duckdb(spark, table_store):
    """``INTEGER[]`` in a bare-DDL column list lowers like the cast
    suffix (``ARRAY<INT>``), and a following INSERT lands the lists."""
    import duckdb

    ex = SparkStatementExecutor(spark, table_store)
    con = duckdb.connect()
    _both(ex, con, "CREATE TABLE ddl_l (k INTEGER PRIMARY KEY, a INTEGER[], b INTEGER, v VARCHAR[])")
    _both(ex, con, "INSERT INTO ddl_l VALUES (1, [1, 2], 3, ['x']), (2, NULL, 4, [])")
    assert dict(spark.table("ddl_l").dtypes)["a"] == "array<int>"
    _rows_match_duckdb(spark, con, "ddl_l")
