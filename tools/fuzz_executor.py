"""Differential mutation fuzzer for the statement executor/TableStore.

Generates random sequences of CREATE TABLE AS / INSERT / UPDATE /
DELETE / MERGE statements, applies each sequence BOTH through
``SparkStatementExecutor`` (copy-on-write Parquet TableStore) and a
DuckDB connection, then compares every table's final contents as
sorted frames. x15/x25/x26 pin hand-written mutation pipelines; this
certifies the mutation engine on shapes nobody wrote by hand.

All generated statements are in the common dialect subset both engines
execute (the Spark side still goes through ``translate`` inside the
executor, so dialect handling is exercised too).

Usage: python tools/fuzz_executor.py [--n 12] [--ops 10] [--seed 626]
Exit code = number of mismatching sequences.
"""

from __future__ import annotations

import random
import os
import sys
import tempfile

import duckdb
import numpy as np


def gen_ops(g: random.Random, n_ops: int) -> list:
    """A statement sequence over tables t1/t2/t3 seeded from orders
    (t3 carries a PRIMARY KEY for the constraint-insert surface)."""
    lo = g.randint(1, 400)
    ops = [
        f"CREATE TABLE t1 AS SELECT o_orderkey AS k, o_orderstatus AS s, "
        f"o_totalprice AS p FROM orders WHERE o_orderkey <= {lo + 400}",
    ]
    has_t2 = False
    has_t3 = False
    has_seq = False
    has_enum = False
    has_t5 = False
    has_t7 = False
    has_t9 = False
    for _ in range(n_ops):
        c = g.randrange(18)
        if c == 17:
            ops.extend(_catalog_ops(g, has_t2, has_t3, has_enum, has_t7))
            continue
        if c == 16:
            # r10c: fmt-exact printf/format columns through CTAS
            # round-trips (the Arrow twin renders, the result is a
            # plain STRING column in the stored parquet) — p / 7 is
            # IEEE division, bit-identical on both engines
            prec = g.randint(0, 3)
            ops.append(
                f"CREATE OR REPLACE TABLE t11 AS SELECT k, "
                f"printf('%.{prec}f|%d', p / 7, k) AS pf, "
                f"printf('%.{prec + 1}g', p / 3) AS pg, "
                f"format('{{:.{prec + 1}f}}~{{}}', p, s) AS fm "
                f"FROM t1 WHERE k % {g.choice([3, 4, 5])} = 0"
            )
            continue
        if c == 14:
            # schema-hinted dispatch: len() on a stored LIST column,
            # brackets on stored STRING columns, DOUBLE || VARCHAR —
            # t5 holds the list column (not compared directly: frame
            # stringification of lists differs between drivers), t6
            # holds only scalars and IS compared
            if not has_t5:
                r = g.randrange(4)
                ops.append(
                    "CREATE TABLE t5 AS SELECT doc_id, "
                    "string_split(text, ' ') AS words, lang, source, "
                    "n_chars, n_chars * 1.5e0 AS score FROM documents "
                    f"WHERE doc_id % 4 = {r}"
                )
                ops.append(
                    "CREATE TABLE t6 AS SELECT doc_id, len(words) AS n, "
                    "lang[1] AS l1, source[-2:-1] AS tl, "
                    "score || lang AS tag FROM t5"
                )
                has_t5 = True
            else:
                pick = g.randrange(3)
                if pick == 0:
                    ops.append(
                        f"DELETE FROM t6 WHERE n < {g.randint(2, 30)}"
                    )
                elif pick == 1:
                    ops.append(
                        "UPDATE t6 SET tag = tag[1:4] "
                        f"WHERE n % {g.choice([2, 3])} = 0"
                    )
                else:
                    ops.append(
                        "INSERT INTO t6 SELECT doc_id + 100000, "
                        "len(words), lang[2], source[-1], "
                        "score + 1 || lang FROM t5 "
                        f"WHERE doc_id % 5 = {g.randrange(5)}"
                    )
            continue
        if c == 15:
            # DDL-declared TIME columns: 24 h wrap through the column
            # (t7 not compared — TIME renders as epoch-day timestamps
            # here by documented contract; t8 compares extracts)
            if not has_t7:
                ops.append("CREATE TABLE t7 (k BIGINT, tt TIME)")
                ops.append(
                    "INSERT INTO t7 VALUES (1, TIME '23:15:00'), "
                    "(2, TIME '04:30:00'), (3, TIME '12:00:10.5'), "
                    "(4, make_time(21, 59, 59))"
                )
                has_t7 = True
            h = g.randint(1, 30)
            ops.append(
                f"CREATE OR REPLACE TABLE t8 AS SELECT k, "
                f"extract(hour FROM tt + INTERVAL {h} HOUR) AS h, "
                f"extract(minute FROM tt) AS m, "
                f"extract(second FROM tt) AS s FROM t7"
            )
            if g.random() < 0.5:
                # r10: TIME pseudo-hints persist through a CTAS hop —
                # arithmetic on the COPY's column must still wrap at
                # midnight (t9 itself not compared: TIME render
                # contract; t10 compares extracts)
                if not has_t9:
                    ops.append(
                        "CREATE TABLE t9 AS SELECT k, tt FROM t7 "
                        "WHERE k <= 3"
                    )
                    has_t9 = True
                ops.append(
                    f"CREATE OR REPLACE TABLE t10 AS SELECT k, "
                    f"extract(hour FROM tt + INTERVAL {g.randint(1, 47)} "
                    f"HOUR) AS h FROM t9"
                )
            continue
        if c == 9:
            # sequences: single-row nextval inserts are order-free, so
            # the minted values are identical in both engines
            if not has_seq:
                ops.append("CREATE SEQUENCE sq START 50000 INCREMENT 3")
                has_seq = True
            shape = g.randrange(4)
            if shape == 1:
                # r14 (VERDICT r13 #6): FROM-less depth-0 set-op body —
                # DuckDB evaluates the single nextval once and advances
                # by 1 even when the set op drops the row
                ops.append(
                    "INSERT INTO t1 SELECT nextval('sq'), 'U', "
                    f"{g.randint(1, 99)}.5 UNION ALL SELECT "
                    f"{g.randint(200000, 300000)}, 'V', 1.5"
                )
            elif shape == 2:
                ops.append(
                    "INSERT INTO t1 SELECT nextval('sq'), 'E', 2.5 "
                    f"EXCEPT SELECT {g.randint(200000, 300000)}, 'E', 2.5"
                )
            elif shape == 3:
                # filtered FROM-less body: no evaluation, no advance
                ops.append(
                    "INSERT INTO t1 SELECT nextval('sq'), 'W', 3.5 "
                    f"WHERE 1 = {g.choice([0, 1])}"
                )
            else:
                ops.append(
                    "INSERT INTO t1 SELECT nextval('sq'), 'Q', "
                    f"{g.randint(1, 99)}.5"
                )
            continue
        if c == 10:
            # ENUM columns: inserts of valid + (sometimes) invalid
            # values — invalid must error on BOTH engines
            if not has_enum:
                ops.append("CREATE TYPE st AS ENUM ('lo', 'mid', 'hi')")
                ops.append("CREATE TABLE t4 (k BIGINT, e st)")
                has_enum = True
            v = g.choice(["lo", "mid", "hi", "hi", "bogus"])
            ops.append(
                f"INSERT INTO t4 VALUES ({g.randint(1, 100)}, '{v}')"
            )
            continue
        if c in (11, 12, 13):
            # round-7 surfaces: UPDATE-time constraint validation,
            # constraint-follows-ALTER, enum revalidation on UPDATE —
            # violating statements must error on BOTH engines (error
            # parity), passing ones must leave identical state
            if c == 11 and has_t3:
                bad = g.random() < 0.5
                if bad:
                    ops.append(
                        f"UPDATE t3 SET p = NULL "
                        f"WHERE k % {g.choice([5, 7])} = 0"
                    )
                else:
                    ops.append(
                        f"UPDATE t3 SET p = p + {g.randint(1, 50)} "
                        f"WHERE k % {g.choice([3, 4])} = 0"
                    )
            elif c == 12 and has_enum:
                v = g.choice(["lo", "mid", "hi", "bogus"])
                ops.append(
                    f"UPDATE t4 SET e = '{v}' WHERE k % "
                    f"{g.choice([2, 3])} = 0"
                )
            elif c == 13 and has_t3:
                pick = g.randrange(3)
                if pick == 0:
                    # NOT NULL follows the renamed column on both sides
                    ops.append("ALTER TABLE t3 RENAME COLUMN p TO p2")
                    ops.append(
                        f"UPDATE t3 SET p2 = NULL WHERE k % 6 = 0"
                        if g.random() < 0.5
                        else f"UPDATE t3 SET p2 = p2 + 1 WHERE k % 6 = 0"
                    )
                    ops.append("ALTER TABLE t3 RENAME COLUMN p2 TO p")
                elif pick == 1:
                    # PK column refuses to drop on both engines
                    ops.append("ALTER TABLE t3 DROP COLUMN k")
                else:
                    # referencing a renamed-away column errors on both
                    ops.append("UPDATE t3 SET gone = 1 WHERE k = 1")
            continue
        if c == 7:
            if not has_t3:
                ops.append(
                    "CREATE TABLE t3 (k BIGINT PRIMARY KEY, "
                    "p DOUBLE NOT NULL)"
                )
                a = g.randint(1, 400)
                ops.append(
                    f"INSERT INTO t3 SELECT o_orderkey, o_totalprice "
                    f"FROM orders WHERE o_orderkey <= {a}"
                )
                has_t3 = True
            else:
                a, b = sorted((g.randint(1, 900), g.randint(1, 900)))
                mode = g.choice(["OR REPLACE ", "OR IGNORE "])
                ops.append(
                    f"INSERT {mode}INTO t3 SELECT o_orderkey, "
                    f"o_totalprice + {g.randint(0, 50)} FROM orders "
                    f"WHERE o_orderkey BETWEEN {a} AND {b}"
                )
            continue
        if c == 8:
            if has_t3:
                a, b = sorted((g.randint(1, 900), g.randint(1, 900)))
                # a NULL into NOT NULL p raises on both engines when a
                # key conflicts; assigning the key is a binder error
                act = g.choice(
                    [
                        "DO NOTHING",
                        f"DO UPDATE SET p = excluded.p + {g.randint(1, 9)}",
                        "DO UPDATE SET p = NULL",
                        "DO UPDATE SET k = excluded.k + 1",
                    ]
                )
                ops.append(
                    f"INSERT INTO t3 SELECT o_orderkey, o_totalprice "
                    f"FROM orders WHERE o_orderkey BETWEEN {a} AND {b} "
                    f"ON CONFLICT (k) {act}"
                )
            continue
        if c == 0:
            a, b = sorted((g.randint(1, 2000), g.randint(1, 2000)))
            ops.append(
                f"INSERT INTO t1 SELECT o_orderkey + 10000, o_orderstatus, "
                f"o_totalprice FROM orders "
                f"WHERE o_orderkey BETWEEN {a} AND {b}"
            )
        elif c == 1:
            delta = g.randint(-500, 500)
            status = g.choice(["'F'", "'O'", "'P'"])
            ops.append(
                f"UPDATE t1 SET p = p + {delta} WHERE s = {status}"
            )
        elif c == 2:
            thr = g.randint(10000, 300000)
            op = g.choice(["<", ">"])
            ops.append(f"DELETE FROM t1 WHERE p {op} {thr}")
        elif c == 3:
            mod = g.choice([3, 5, 7])
            ops.append(
                f"UPDATE t1 SET s = 'X' WHERE k % {mod} = 0"
            )
        elif c == 4 and not has_t2:
            ops.append(
                "CREATE TABLE t2 AS SELECT k, s, round(p / 2, 2) AS p "
                "FROM t1 WHERE k % 2 = 0"
            )
            has_t2 = True
            if g.random() < 0.5:
                # schema evolution on the copy: ALTER + backfill
                ops.append("ALTER TABLE t2 ADD COLUMN extra BIGINT")
                ops.append(
                    f"UPDATE t2 SET extra = k * {g.randint(2, 9)} "
                    f"WHERE k % 3 = 0"
                )
            elif g.random() < 0.5:
                ops.append("ALTER TABLE t2 RENAME COLUMN p TO price")
                ops.append(
                    f"DELETE FROM t2 WHERE price < {g.randint(1000, 90000)}"
                )
        elif c == 5 and has_t2:
            # (no MERGE here: this environment's DuckDB has no MERGE
            # statement to diff against — x26 +
            # tests/test_executor.py::test_merge_into_all_clause_kinds
            # cover it with an emulated oracle)
            delta = g.randint(1, 9)
            if g.random() < 0.5:
                ops.append(
                    f"UPDATE t2 SET p = round(p * 1.0{delta}, 2) "
                    f"WHERE k IN (SELECT k FROM t1 WHERE k % 4 = 0)"
                )
            else:
                # UPDATE ... FROM over a single-match source (a row
                # with several matches takes an arbitrary one)
                ops.append(
                    "UPDATE t2 SET p = s.p FROM (SELECT k, max(p) AS p "
                    "FROM t1 GROUP BY k) s WHERE t2.k = s.k"
                )
        elif c == 6 and has_t2:
            mod = g.choice([5, 7, 11])
            ops.append(
                f"DELETE FROM t1 USING t2 "
                f"WHERE t1.k = t2.k AND t2.k % {mod} = 0"
            )
        else:
            a = g.randint(1, 1500)
            ops.append(
                f"DELETE FROM t1 WHERE k BETWEEN {a} AND {a + g.randint(0, 99)}"
            )
    return ops


#: statement-head words a created body's string literal spells
_HEAD_WORDS = ("macro", "if not exists", "drop table", "create sequence")


def _catalog_ops(g: random.Random, has_t2, has_t3, has_enum, has_t7) -> list:
    """Catalog statements (every relation is one record): RENAME to a
    fresh name on a PRIMARY KEY, ENUM or TIME table, use it there and
    (mostly) rename it back; RENAME onto an existing table; DROP and
    re-create with another body; CREATE OR REPLACE VIEW over a table;
    CTAS bodies whose string literals spell head words; DROP TABLE of a
    view and DROP VIEW of a table; a plain re-CREATE of an existing
    name. The error cases must fail on both engines and change
    nothing. Most created bodies carry a string literal spelling a
    statement-head word: what a statement is comes from its head."""
    pick = g.randrange(7)
    w = f"'{g.choice(_HEAD_WORDS)}' AS w"
    keyed = [t for t, have in (("t3", has_t3), ("t4", has_enum), ("t7", has_t7))
             if have]
    if pick == 0 and keyed:
        t = g.choice(keyed)
        ops = [f"ALTER TABLE {t} RENAME TO {t}r"]
        if t == "t3":
            a = g.randint(1, 900)
            ops.append(
                f"INSERT INTO t3r SELECT o_orderkey, o_totalprice FROM orders "
                f"WHERE o_orderkey BETWEEN {a} AND {a + g.randint(0, 30)}"
            )
        elif t == "t4":
            v = g.choice(["lo", "hi", "bogus"])
            ops.append(f"INSERT INTO t4r VALUES ({g.randint(1, 100)}, '{v}')")
            ops.append(
                "CREATE OR REPLACE TABLE t12 AS SELECT k, e, "
                "row_number() OVER (ORDER BY e, k) AS r FROM t4r"
            )
        else:
            ops.append(
                "CREATE OR REPLACE TABLE t13 AS SELECT k, extract(hour FROM "
                f"tt + INTERVAL {g.randint(1, 47)} HOUR) AS h FROM t7r"
            )
        if g.random() < 0.8:
            ops.append(f"ALTER TABLE {t}r RENAME TO {t}")
        return ops
    existing = ["t1"] + [t for t, have in (("t2", has_t2), ("t3", has_t3)) if have]
    if pick == 1 and len(existing) > 1:
        src, dst = g.sample(existing, 2)
        return [f"ALTER TABLE {src} RENAME TO {dst}"]
    if pick == 2:
        t = g.choice(existing)
        m = g.choice([2, 3, 5])
        body = {
            "t1": "SELECT o_orderkey AS k, o_orderstatus AS s, "
                  f"o_totalprice AS p FROM orders WHERE o_orderkey % {m} = 0",
            "t2": f"SELECT k, s, p FROM t1 WHERE k % {m} = 1",
            # no PRIMARY KEY or NOT NULL any more on either engine
            "t3": "SELECT o_orderkey AS k, o_totalprice AS p FROM orders "
                  f"WHERE o_orderkey % {m} = 0",
        }[t]
        return [f"DROP TABLE {t}", f"CREATE TABLE {t} AS {body}"]
    if pick == 4:
        t = g.choice(["t15", "t16"])
        replace = "OR REPLACE " if g.random() < 0.7 else ""
        return [
            f"CREATE {replace}TABLE {t} AS SELECT k, {w} FROM t1 "
            f"WHERE k % {g.choice([2, 3, 5])} = 0"
        ]
    if pick == 5:
        guard = "IF EXISTS " if g.random() < 0.5 else ""
        if g.random() < 0.5:
            return [
                f"CREATE OR REPLACE VIEW v1 AS SELECT k, s, {w} FROM t1 "
                "WHERE k % 2 = 0",
                f"DROP TABLE {guard}v1",
            ]
        return [f"DROP VIEW {guard}{g.choice(existing)}"]
    if pick == 6:
        # a plain CREATE over an existing table or view
        if g.random() < 0.5:
            return [f"CREATE TABLE {g.choice(existing)} AS SELECT 1 AS k, {w}"]
        return [
            f"CREATE OR REPLACE VIEW v1 AS SELECT k, {w} FROM t1 WHERE k % 3 = 0",
            f"CREATE VIEW v1 AS SELECT k, {w} FROM t1",
        ]
    if g.random() < 0.5:
        return [f"CREATE OR REPLACE VIEW {g.choice(existing)} AS SELECT 1 AS k, {w}"]
    return [
        f"CREATE OR REPLACE VIEW v1 AS SELECT k, s, {w} FROM t1 "
        f"WHERE k % {g.choice([2, 3])} = 0 ORDER BY k",
        f"CREATE OR REPLACE TABLE t14 AS SELECT s, count(*) AS n, {w} FROM v1 "
        "GROUP BY s",
    ]


def _sorted_frame(df):
    """Order rows by every column (floats rounded so sub-tolerance
    engine noise can't flip the sort); NaN/None normalized for keys."""
    import pandas as pd

    keys = {}
    for c in df.columns:
        col = df[c]
        try:
            keys[c] = col.astype(float).round(6)
        except (ValueError, TypeError):
            keys[c] = col.astype(str)
    order = pd.DataFrame(keys).sort_values(list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


#: not compared directly: t5 holds a LIST column (frame stringification
#: of lists differs between drivers), t7/t7r/t9 TIME columns (TIME
#: renders as epoch-day timestamps here by documented contract; t8, t10
#: and t13 compare extracts instead)
_NOT_COMPARED = {"t5", "t7", "t7r", "t9"}


def compare_tables(spark, con, tables) -> list:
    """Schema-aware compare: column SETS must match (ALTER ops change
    them mid-sequence), then values column-by-column with float
    tolerance."""
    bad = []
    for t in tables:
        try:
            s = spark.table(t).toPandas()
            o = con.execute(f"SELECT * FROM {t}").fetchdf()
        except Exception as exc:  # noqa: BLE001
            bad.append(f"{t}: read error {str(exc)[:120]}")
            continue
        if sorted(s.columns) != sorted(o.columns):
            bad.append(
                f"{t}: columns spark={sorted(s.columns)} "
                f"duck={sorted(o.columns)}"
            )
            continue
        if len(s) != len(o):
            bad.append(f"{t}: rows spark={len(s)} duck={len(o)}")
            continue
        s = _sorted_frame(s[sorted(s.columns)])
        o = _sorted_frame(o[sorted(o.columns)])
        for col in s.columns:
            sv, ov = s[col].to_numpy(), o[col].to_numpy()
            try:
                svf, ovf = sv.astype(float), ov.astype(float)
                nan = np.isnan(svf) & np.isnan(ovf)
                if not np.all(np.isclose(svf, ovf, rtol=1e-9) | nan):
                    bad.append(f"{t}.{col}: value mismatch")
            except (ValueError, TypeError):
                if not (sv.astype(str) == ov.astype(str)).all():
                    bad.append(f"{t}.{col}: value mismatch")
    return bad


def main() -> int:
    args = sys.argv[1:]

    def opt(name, default):
        return args[args.index(name) + 1] if name in args else default

    n = int(opt("--n", "12"))
    n_ops = int(opt("--ops", "10"))
    seed = int(opt("--seed", "626"))
    sf_dir = opt("--sf-dir", "/root/testdata/sf0.01")

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
        TableStore,
    )
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_script,
    )
    from component_duckdb_transformation_spark.session import (
        build_spark_session,
    )
    from component_duckdb_transformation_spark.sources.parquet_io import (
        read_parquet,
    )

    spark = build_spark_session(
        app_name="fuzz-executor", threads=8, shuffle_partitions=8
    )
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    documents = read_parquet(spark, f"{sf_dir}/documents.parquet")

    g = random.Random(seed)
    failures = 0
    for i in range(n):
        ops = gen_ops(g, n_ops)
        # fresh state both sides per sequence
        spark.catalog.dropTempView("t1") if "t1" in [
            t.name for t in spark.catalog.listTables()
        ] else None
        orders.createOrReplaceTempView("orders")
        documents.createOrReplaceTempView("documents")
        store = TableStore(spark, tempfile.mkdtemp(prefix="cdts-fuzz-ex-"))
        ex = SparkStatementExecutor(spark, store)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW orders AS "
            f"FROM read_parquet('{sf_dir}/orders.parquet')"
        )
        con.execute(
            f"CREATE VIEW documents AS "
            f"FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        err = None
        for op in ops:
            serr = derr = None
            try:
                for st in parse_script(op):
                    ex._execute_statement(st)
            except Exception as exc:  # noqa: BLE001
                serr = str(exc)[:160]
            try:
                con.execute(op)
            except Exception as exc:  # noqa: BLE001
                derr = str(exc)[:160]
            # error PARITY is the contract: both engines rejecting a
            # statement (e.g. UPDATE on a renamed-away column) is a
            # pass; only one side erroring is a divergence. Mutations
            # are copy-on-write/atomic on the Spark side, so an errored
            # statement left no partial state on either engine.
            if (serr is None) != (derr is None):
                err = f"error divergence on {op!r}: spark={serr!r} duck={derr!r}"
                break
        if err:
            print(f"SEQ {i} ERROR {err}")
            failures += 1
            continue
        # end state: the same catalog on both engines (tables and views,
        # renamed names included), then every relation's contents
        duck = {
            (name, kind)
            for name, kind in con.execute(
                "SELECT table_name, 'table' FROM duckdb_tables() UNION ALL "
                "SELECT view_name, 'view' FROM duckdb_views() WHERE NOT "
                "internal AND view_name NOT IN ('orders', 'documents')"
            ).fetchall()
        }
        ours = {
            (name, "view" if s.path is None else "table")
            for name, s in store.tables.items()
        }
        bad = [] if duck == ours else [
            f"catalog: spark={sorted(ours)} duck={sorted(duck)}"
        ]
        bad += compare_tables(
            spark, con, sorted(n for n, _ in duck if n not in _NOT_COMPARED)
        )
        if bad:
            print(f"SEQ {i} MISMATCH: {bad}")
            for op in ops:
                print(f"  {op}")
            failures += 1
        else:
            print(f"# seq {i}: ok ({len(ops)} statements)", file=sys.stderr)
    print(f"\n{failures} failing sequences of {n} (seed {seed})")
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
