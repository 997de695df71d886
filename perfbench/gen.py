"""Seeded generator of Keboola data dirs for the component benchmark.

Each workload becomes one data dir that ``Component(data_dir, spark).run()``
takes unchanged: ``config.json`` (blocks, codes, input/output mapping),
``in/tables`` with manifests, and an empty ``out/``. The seed picks

- the row subsets of the fact tables (a key-hash filter),
- the key-range boundaries of the DML chains,
- the code order inside each block.

The same seed yields a byte-identical data dir; ``generate`` returns a
sha256 over every file so callers can check that. DuckDB writes every
input single-threaded so the bytes do not depend on thread scheduling.

Base tables are the TPC-H-ish sf0.001 parquet set in ``data/``. Larger
scale factors replicate it with dense key offsets, so sf0.01 is 10 and
sf0.1 100 key-disjoint copies whose joins stay inside one copy.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass, field

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

#: DuckDB type -> KBC base type written into typed manifests
_KBC_BASE = {
    "BIGINT": "INTEGER",
    "INTEGER": "INTEGER",
    "DOUBLE": "FLOAT",
    "TIMESTAMP": "TIMESTAMP",
    "DATE": "DATE",
    "VARCHAR": "STRING",
    "BOOLEAN": "BOOLEAN",
}

#: copies of the sf0.001 base set per scale factor
_COPIES = {"0.001": 1, "0.01": 10, "0.1": 100}

#: key columns shifted by copy, per table, and the table whose row count
#: is that key's offset (keys are dense from 0 in the base set)
_KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier",
    },
}

#: fact tables and the key the seeded subset hashes on; every other
#: table is kept whole so dimension joins always find their partner
_SUBSET_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "events": "event_id",
    "documents": "doc_id",
}

#: share of fact rows kept, in thousandths; below the whole table so the
#: seed matters, and low enough that an etl_sf01 invocation fits its
#: time budget
_KEEP_PER_MILLE = 600

#: q_surface texts the engine cannot run end to end today; they stay out
#: so that the failure count starts at 0 (see perfbench/NOTES.md)
Q_EXCLUDED = {
    "q40_distinct_on_lambdas": (
        "export re-applies a terminal ORDER BY naming a column the "
        "table does not carry"
    ),
    "q63_round8_surfaces": (
        "export re-applies a terminal ORDER BY naming a column the "
        "table does not carry"
    ),
    # the startup syntax check (on for this workload) rejects these, so
    # the whole job would fail before import
    "q24_arithmetic_semantics": "lint: SELECT without FROM",
    "q31_qualify": "Spark's parser rejects the translated text",
    "q56_fn_parity_battery": "lint: arithmetic on VARCHAR casts",
    "q58_grapheme_json_path": "lint: arithmetic on VARCHAR casts",
    "q59_positional_join_comprehension": "lint: arithmetic on VARCHAR casts",
    "q64_round8b_surfaces": "lint: arithmetic on VARCHAR casts; format() spec",
    "q66_round9_surfaces": (
        "Spark's parser rejects the translated text; lint: unmatched "
        "parentheses (counted inside string literals)"
    ),
    "q69_null_render_edges": "lint: format() spec not shimmed",
    "q72_decimal_exact_aggs": "lint: arithmetic on VARCHAR casts",
    # not a defect: mode() over a seeded subset can tie, and DuckDB and
    # Spark pick different winners
    "q07_stats_agg": "mode() ties on some seeds; the tie-break differs",
    # the CSV export changes these values
    "q52_similarity_bar_timezone": "export trims trailing spaces of strings",
    "q65_schema_hinted_dispatch": "export trims leading spaces of strings",
    "q53_asof_join_sql": "export drops the fractional seconds of timestamps",
    "q54_asof_select_star": "export drops the fractional seconds of timestamps",
}

#: q_surface keeps every Q_STRIDE-th remaining text (in name order), a
#: fixed subset that keeps one invocation inside the time budget
Q_STRIDE = 6


@dataclass
class Spec:
    """A generated data dir plus what the benchmark needs to judge it."""

    workload: str
    data_dir: str
    digest: str
    input_bytes: int
    statements: int
    #: output-mapping sources, in export order
    outputs: list = field(default_factory=list)
    #: engine statement text -> DuckDB statements the oracle runs instead
    #: (only where DuckDB 1.0 lacks the syntax, e.g. MERGE)
    oracle_overrides: dict = field(default_factory=dict)


class _Writer:
    """Writes inputs with manifests, collects outputs, writes the config."""

    def __init__(self, con, data_dir: str, bucket: str):
        self.con = con
        self.data_dir = data_dir
        self.in_dir = os.path.join(data_dir, "in", "tables")
        self.bucket = bucket
        self.input_mapping: list = []
        self.outputs: list = []
        os.makedirs(self.in_dir)
        os.makedirs(os.path.join(data_dir, "out", "tables"))
        os.makedirs(os.path.join(data_dir, "out", "files"))

    def _map(self, name: str, file_type: str) -> str:
        source = f"in.c-{self.bucket}.{name}"
        self.input_mapping.append(
            {"source": source, "destination": name, "file_type": file_type}
        )
        return source

    def _typed_manifest(self, name: str, select_sql: str) -> dict:
        cols = [
            (r[0], _KBC_BASE[r[1]])
            for r in self.con.execute(f"DESCRIBE {select_sql}").fetchall()
        ]
        return {
            "id": self._map(name, "csv"),
            "columns": [c for c, _ in cols],
            "column_metadata": {
                c: [{"key": "KBC.datatype.basetype", "value": t}]
                for c, t in cols
            },
        }

    def csv(self, name: str, select_sql: str) -> None:
        """Headered CSV with a typed (column_metadata) manifest."""
        path = os.path.join(self.in_dir, f"{name}.csv")
        manifest = self._typed_manifest(name, select_sql)
        self.con.execute(
            f"COPY ({select_sql}) TO '{path}' "
            "(HEADER, DELIMITER ',', QUOTE '\"', FORCE_QUOTE *)"
        )
        _write_json(path + ".manifest", manifest)

    def sliced_csv(self, name: str, select_sql: str, key: str, slices: int) -> None:
        """Headerless CSV slices in a directory, typed manifest."""
        manifest = self._typed_manifest(name, select_sql)
        slice_dir = os.path.join(self.in_dir, name)
        os.makedirs(slice_dir)
        for i in range(slices):
            self.con.execute(
                f"COPY (SELECT * FROM ({select_sql}) WHERE {key} % {slices} = {i}) "
                f"TO '{slice_dir}/part{i}.csv' "
                "(HEADER false, DELIMITER ',', QUOTE '\"', FORCE_QUOTE *)"
            )
        _write_json(os.path.join(self.in_dir, f"{name}.manifest"), manifest)

    def parquet(self, name: str, select_sql: str) -> None:
        """Parquet directory input; the manifest names the columns only,
        so the importer keeps the parquet types."""
        cols = [r[0] for r in self.con.execute(f"DESCRIBE {select_sql}").fetchall()]
        pq_dir = os.path.join(self.in_dir, name)
        os.makedirs(pq_dir)
        self.con.execute(
            f"COPY ({select_sql}) TO '{pq_dir}/part0.parquet' (FORMAT PARQUET)"
        )
        manifest = {"id": self._map(name, "parquet"), "columns": cols}
        _write_json(os.path.join(self.in_dir, f"{name}.manifest"), manifest)

    def finish(
        self, blocks: list, threads: int, syntax_check: bool, max_memory_mb: int
    ) -> None:
        config = {
            "parameters": {
                "blocks": blocks,
                "threads": threads,
                "max_memory_mb": max_memory_mb,
                "syntax_check_on_startup": syntax_check,
            },
            "storage": {
                "input": {"tables": self.input_mapping},
                "output": {
                    "tables": [
                        {"source": t, "destination": f"out.c-{self.bucket}.{t}"}
                        for t in self.outputs
                    ]
                },
            },
        }
        _write_json(os.path.join(self.data_dir, "config.json"), config)


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)


def _base(table: str, sf: str, seed: int) -> str:
    """SELECT over one base table at scale ``sf``; fact tables keep a
    seeded ~60 % subset chosen by a hash of their key."""
    src = f"read_parquet('{DATA}/{table}.parquet')"
    copies = _COPIES[sf]
    keys = _KEYS.get(table, {})
    if copies > 1 and keys:
        shifted = ", ".join(
            f"{col} + c.i * (SELECT count(*) FROM read_parquet('{DATA}/{of}.parquet')) "
            f"AS {col}"
            for col, of in keys.items()
        )
        src = (
            f"(SELECT * REPLACE ({shifted}) FROM {src} "
            f"CROSS JOIN range({copies}) AS c(i))"
        )
    key = _SUBSET_KEYS.get(table)
    if key is None:
        return f"SELECT * FROM {src}"
    return (
        f"SELECT * FROM {src} "
        f"WHERE hash({key} + {seed * 1000003}) % 1000 < {_KEEP_PER_MILLE} "
        f"ORDER BY {key}"
    )


def _codes(rng: random.Random, named_scripts: list) -> list:
    """Config codes from (name, [script, ...]); the seed shuffles the
    code order inside the block."""
    codes = [{"name": n, "script": list(s)} for n, s in named_scripts]
    rng.shuffle(codes)
    return codes


# ---------------------------------------------------------------------------
# etl_sf01
# Why: sf0.1 inputs (lineitem ~360k rows after the subset) arrive as typed
# CSV, one sliced CSV and one parquet dir, feed 8 CTAS statements in two
# blocks, and five tables (two of them ~80k rows) are exported. In a
# traced warm run the batches (scan, shuffle and write jobs, the CSV
# parse included) take ~70 % of the wall and the single-file exports
# ~24 %; translation is under 1 %. It is the bypass case for front-end
# and per-statement optimizations, and the case that exposes CSV import
# and single-file export. Sums run on integer cents so both engines
# agree exactly. No
# batch holds more scripts than the 4 worker threads, so the seeded code
# order cannot change which statement waits for a free worker.
# ---------------------------------------------------------------------------

_ETL_STAGING = [
    ("li_enriched", [
        "CREATE TABLE li_enriched AS SELECT l.l_orderkey, l.l_partkey, "
        "l.l_suppkey, l.l_linenumber, CAST(l.l_quantity AS BIGINT) AS qty, "
        "CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_cents, "
        "CAST(round(l.l_discount * 100) AS BIGINT) AS disc_pct, "
        "l.l_returnflag, l.l_linestatus, l.l_shipdate, o.o_custkey, "
        "o.o_orderdate, o.o_orderpriority "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey",
    ]),
    ("cust_nation", [
        "CREATE TABLE cust_nation AS SELECT c.c_custkey, c.c_name, "
        "c.c_mktsegment, CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_cents, "
        "n.n_name, r.r_name "
        "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey",
    ]),
    ("part_dim", [
        "CREATE TABLE part_dim AS SELECT p_partkey, p_brand, p_type, p_size, "
        "CASE WHEN p_size <= 15 THEN 'small' WHEN p_size <= 35 THEN 'medium' "
        "ELSE 'large' END AS size_class FROM part",
    ]),
]

_ETL_MARTS = [
    ("pricing_summary", [
        "CREATE TABLE pricing_summary AS SELECT l_returnflag, l_linestatus, "
        "sum(qty) AS sum_qty, sum(price_cents) AS sum_base_cents, "
        "sum(price_cents * (100 - disc_pct)) AS sum_disc_cents, "
        "count(*) AS count_order FROM li_enriched "
        "GROUP BY l_returnflag, l_linestatus",
    ]),
    ("order_summary", [
        "CREATE TABLE order_summary AS SELECT l_orderkey AS o_orderkey, "
        "o_custkey, o_orderdate, count(*) AS n_lines, sum(qty) AS total_qty, "
        "sum(price_cents * (100 - disc_pct)) AS net_cents "
        "FROM li_enriched GROUP BY l_orderkey, o_custkey, o_orderdate",
    ]),
    ("brand_size_stats", [
        "CREATE TABLE brand_size_stats AS SELECT p.p_brand, p.size_class, "
        "count(*) AS n_lines, sum(l.qty) AS total_qty, "
        "count(DISTINCT l.o_custkey) AS n_customers "
        "FROM li_enriched l JOIN part_dim p ON l.l_partkey = p.p_partkey "
        "GROUP BY p.p_brand, p.size_class",
    ]),
]

#: read order_summary, so they follow it in config order and land in a
#: later batch of the block
_ETL_LATE = [
    ("top_customers", [
        "CREATE TABLE top_customers AS SELECT c.n_name, c.c_custkey, "
        "c.c_name, sum(o.net_cents) AS spend_cents, count(*) AS n_orders "
        "FROM order_summary o JOIN cust_nation c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.n_name, c.c_custkey, c.c_name "
        "QUALIFY row_number() OVER (PARTITION BY c.n_name "
        "ORDER BY sum(o.net_cents) DESC, c.c_custkey) <= 10",
    ]),
    ("big_orders", [
        "CREATE TABLE big_orders AS SELECT o.o_orderkey, o.o_custkey, "
        "o.o_orderdate, o.n_lines, o.net_cents, c.c_mktsegment, c.n_name "
        "FROM order_summary o JOIN cust_nation c ON o.o_custkey = c.c_custkey "
        "WHERE o.n_lines >= 2",
    ]),
]

_ETL_OUTPUTS = (
    "pricing_summary", "order_summary", "brand_size_stats", "top_customers",
    "big_orders",
)


def _gen_etl(w: _Writer, rng, sf: str, seed: int):
    w.csv("lineitem", _base("lineitem", sf, seed))
    w.csv("orders", _base("orders", sf, seed))
    w.csv("customer", _base("customer", sf, seed))
    w.csv("region", _base("region", sf, seed))
    w.sliced_csv("part", _base("part", sf, seed), "p_partkey", slices=4)
    w.parquet("nation", _base("nation", sf, seed))
    w.outputs.extend(_ETL_OUTPUTS)
    blocks = [
        {"name": "staging", "codes": _codes(rng, _ETL_STAGING)},
        {"name": "marts",
         "codes": _codes(rng, _ETL_MARTS) + _codes(rng, _ETL_LATE)},
    ]
    return blocks, {}, False


# ---------------------------------------------------------------------------
# q_surface
# Why: the repo's oracle-checked DuckDB-dialect q* texts, each as one
# CREATE TABLE qNN AS ... in a single block over sf0.001 parquet, with the
# startup syntax check on and every table exported. The data is tiny, so
# the wall goes to fixed per-table costs: in a traced warm run the 9
# serial small exports take ~37 %, the batch ~39 % (mostly each
# statement's write job, ~5 Spark jobs per statement), the 10 lazy
# parquet imports ~19 %, validation and translation ~11 %.
# Per-statement, per-table and front-end optimizations show here.
# ---------------------------------------------------------------------------

_Q_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def q_surface_texts() -> dict:
    """name -> DuckDB-dialect SELECT, frozen from the repo's shared-text
    workload registry (``q_surface.json``): the ``Q_STRIDE`` subset of
    the texts not in ``Q_EXCLUDED``."""
    with open(os.path.join(HERE, "q_surface.json"), encoding="utf-8") as fh:
        texts = json.load(fh)["queries"]
    names = sorted(k for k in texts if k not in Q_EXCLUDED)[::Q_STRIDE]
    return {k: texts[k] for k in names}


def _gen_q_surface(w: _Writer, rng, sf: str, seed: int):
    for t in _Q_TABLES:
        w.parquet(t, _base(t, sf, seed))
    named = []
    for name, sql in q_surface_texts().items():
        table = name.split("_", 1)[0]
        named.append((table, [f"CREATE TABLE {table} AS {sql}"]))
        w.outputs.append(table)
    return [{"name": "surface", "codes": _codes(rng, named)}], {}, True


# ---------------------------------------------------------------------------
# dml_chains
# Why: five independent chains, one per x15/x25/x26/x29/x30 executor
# pipeline, in one block over sf0.01 CSV inputs: CTAS -> INSERT -> UPDATE ->
# DELETE; a PRIMARY KEY table fed by INSERT OR REPLACE / OR IGNORE /
# ON CONFLICT; MERGE; ALTER; sequence, enum and RETURNING statements.
# Every statement mutates the copy-on-write TableStore (a new version plus
# a view re-bind around tiny jobs): in a traced warm run the batch takes
# ~82 % of the wall, and store commits ~70 % of the executor's time. It
# is the write-heavy counterpart of q_surface, where each table is
# written once and then read: a cache keyed on table versions behaves
# oppositely on the two.
# ---------------------------------------------------------------------------

def _ranges(rng: random.Random, lo: int, step: int, n: int = 5) -> list:
    """n ascending key boundaries; the seed jitters each step by ±20 %."""
    out, k = [], lo
    for _ in range(n):
        k += step + rng.randint(-step // 5, step // 5)
        out.append(k)
    return out


def _chain_x15(c: str, r: list):
    t = f"mut_{c}"
    return [
        f"CREATE TABLE {t} AS SELECT o_orderkey, o_orderstatus, o_totalprice "
        f"FROM orders WHERE o_orderkey <= {r[0]}",
        f"INSERT INTO {t} SELECT o_orderkey, o_orderstatus, o_totalprice "
        f"FROM orders WHERE o_orderkey > {r[0]} AND o_orderkey <= {r[2]}",
        f"UPDATE {t} SET o_totalprice = o_totalprice + 500.0 "
        "WHERE o_orderstatus = 'F'",
        f"DELETE FROM {t} WHERE o_totalprice < 50000",
    ], [t], {}


def _chain_x25(c: str, r: list):
    t = f"cust2_{c}"
    return [
        f"CREATE TABLE {t} AS SELECT c_custkey, c_nationkey, c_acctbal "
        f"FROM customer WHERE c_custkey <= {r[2]}",
        f"ALTER TABLE {t} ADD COLUMN nation_name VARCHAR DEFAULT '?'",
        f"UPDATE {t} SET nation_name = n.n_name FROM nation n "
        f"WHERE {t}.c_nationkey = n.n_nationkey",
        f"ALTER TABLE {t} RENAME COLUMN c_acctbal TO balance",
        f"ALTER TABLE {t} DROP COLUMN c_nationkey",
        f"DELETE FROM {t} WHERE c_custkey <= {r[0]} AND balance < 0",
    ], [t], {}


def _chain_x26(c: str, r: list):
    t, s = f"m_ord_{c}", f"m_src_{c}"
    merge = (
        f"MERGE INTO {t} USING {s} ON {t}.o_orderkey = {s}.o_orderkey "
        f"WHEN MATCHED AND {s}.new_price < 50000 THEN DELETE "
        f"WHEN MATCHED THEN UPDATE SET o_totalprice = {s}.new_price "
        "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, "
        f"o_totalprice) VALUES ({s}.o_orderkey, 'N', {s}.new_price)"
    )
    # DuckDB 1.0 has no MERGE: the same first-matching-clause semantics
    # as plain statements, NOT MATCHED judged against the target as it
    # was before any clause applied
    ins = f"merge_ins_{c}"
    oracle = [
        f"CREATE TEMP TABLE {ins} AS SELECT o_orderkey, 'N' AS o_orderstatus, "
        f"new_price AS o_totalprice FROM {s} "
        f"WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {t})",
        f"DELETE FROM {t} WHERE o_orderkey IN "
        f"(SELECT o_orderkey FROM {s} WHERE new_price < 50000)",
        f"UPDATE {t} SET o_totalprice = {s}.new_price FROM {s} "
        f"WHERE {t}.o_orderkey = {s}.o_orderkey",
        f"INSERT INTO {t} SELECT * FROM {ins}",
        f"DROP TABLE {ins}",
    ]
    return [
        f"CREATE TABLE {t} AS SELECT o_orderkey, o_orderstatus, o_totalprice "
        f"FROM orders WHERE o_orderkey <= {r[2]}",
        f"CREATE TABLE {s} AS SELECT o_orderkey, o_totalprice + 1000.0 "
        f"AS new_price FROM orders WHERE o_orderkey > {r[1]} "
        f"AND o_orderkey <= {r[4]}",
        merge,
    ], [t], {merge: oracle}


def _chain_x29(c: str, r: list):
    t = f"cust_pk_{c}"
    return [
        f"CREATE TABLE {t} (k BIGINT PRIMARY KEY, bal DOUBLE, src VARCHAR)",
        f"INSERT INTO {t} SELECT c_custkey, c_acctbal, 'base' FROM customer "
        f"WHERE c_custkey <= {r[1]}",
        f"INSERT OR REPLACE INTO {t} SELECT c_custkey, c_acctbal + 100.0, "
        f"'repl' FROM customer WHERE c_custkey > {r[0]} AND c_custkey <= {r[2]}",
        f"INSERT OR IGNORE INTO {t} SELECT c_custkey, 0.0, 'ign' "
        f"FROM customer WHERE c_custkey > {r[2] - 50} AND c_custkey <= {r[3]}",
        f"INSERT INTO {t} SELECT c_custkey, c_acctbal, 'conf' FROM customer "
        f"WHERE c_custkey > {r[1] - 50} AND c_custkey <= {r[4]} "
        f"ON CONFLICT (k) DO UPDATE SET bal = excluded.bal + {t}.bal, "
        "src = 'upd'",
    ], [t], {}


def _chain_x30(c: str, r: list):
    t, p, e, q = f"custt_{c}", f"promoted_{c}", f"tier_{c}", f"sid_{c}"
    consumer = (
        f"CREATE TABLE {p} AS SELECT CAST(count(*) AS BIGINT) AS n FROM returning"
    )
    return [
        f"CREATE TYPE {e} AS ENUM ('bronze', 'silver', 'gold')",
        f"CREATE SEQUENCE {q} START 1000 INCREMENT 10",
        f"CREATE TABLE {t} (k BIGINT, tier {e}, sid BIGINT)",
        f"INSERT INTO {t} SELECT c_custkey, CASE WHEN c_acctbal < 0 THEN "
        "'bronze' WHEN c_acctbal < 5000 THEN 'silver' ELSE 'gold' END, NULL "
        f"FROM customer WHERE c_custkey <= {r[2]}",
        f"INSERT INTO {t} SELECT 100001, 'gold', nextval('{q}')",
        f"INSERT INTO {t} SELECT 100002, 'silver', nextval('{q}')",
        # the parser lists `returning` among the outputs of a RETURNING
        # statement, so its reader is scheduled after it
        f"UPDATE {t} SET tier = 'gold' WHERE k % 50 = 0 RETURNING k",
        consumer,
    ], [t, p], {
        # RETURNING is a reserved word in DuckDB: the oracle keeps the
        # RETURNING rows as a table named "returning" and quotes it
        consumer: [consumer.replace("FROM returning", 'FROM "returning"')],
    }


#: chain k runs _CHAINS[k]
_CHAINS = (_chain_x15, _chain_x25, _chain_x26, _chain_x29, _chain_x30)

#: session-catalog DDL is a scheduling barrier (the orchestrator orders
#: it against every other script of its block), so it gets a block of
#: its own ahead of the chains; inside the chains block the seeded code
#: order would otherwise decide how the block splits into batches
_CATALOG_DDL = ("CREATE TYPE ", "CREATE SEQUENCE ")


def _gen_dml(w: _Writer, rng, sf: str, seed: int):
    w.csv("orders", _base("orders", sf, seed))
    w.csv("customer", _base("customer", sf, seed))
    w.csv("nation", _base("nation", sf, seed))
    catalog, named, overrides = [], [], {}
    for k, chain in enumerate(_CHAINS):
        scripts, outs, ovr = chain(f"c{k}", _ranges(rng, lo=100 * k, step=200))
        catalog += [s for s in scripts if s.startswith(_CATALOG_DDL)]
        named.append((f"chain{k}", [s for s in scripts if not s.startswith(_CATALOG_DDL)]))
        overrides.update(ovr)
        w.outputs.extend(outs)
    blocks = [
        {"name": "catalog", "codes": [{"name": "catalog", "script": catalog}]},
        {"name": "chains", "codes": _codes(rng, named)},
    ]
    # no startup syntax check: the validator parses raw text with Spark's
    # parser, which rejects the DDL/DML surface the executor lowers itself
    return blocks, overrides, False


#: name -> (generator, default scale factor)
WORKLOADS = {
    "etl_sf01": (_gen_etl, "0.1"),
    "q_surface": (_gen_q_surface, "0.001"),
    "dml_chains": (_gen_dml, "0.01"),
}

#: the config's max_memory_mb, the driver JVM's -Xmx; fixed rather than
#: autodetected so the heap limit does not depend on the machine
MAX_MEMORY_MB = 1024


def dir_digest(root: str) -> tuple[str, int]:
    """sha256 over the relative path and bytes of every file under
    ``root`` in sorted order, and the byte size of its ``in/`` tree."""
    h = hashlib.sha256()
    in_bytes = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in sorted(filenames):
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root)
            with open(path, "rb") as fh:
                data = fh.read()
            h.update(rel.encode() + b"\0" + hashlib.sha256(data).digest())
            if rel.startswith("in" + os.sep):
                in_bytes += len(data)
    return h.hexdigest(), in_bytes


def split_script(script: str) -> list:
    """Statements of one config script, as the generator writes them
    (``; `` between statements)."""
    return [s for s in script.split("; ") if s.strip()]


def generate(
    workload: str, seed: int, data_dir: str, threads: int, sf: str | None = None
) -> Spec:
    """Write the data dir for ``workload`` at ``data_dir`` (replacing it);
    ``sf`` overrides the workload's scale factor."""
    gen, default_sf = WORKLOADS[workload]
    if os.path.exists(data_dir):
        shutil.rmtree(data_dir)
    rng = random.Random(f"{workload}:{seed}")
    con = duckdb.connect(config={"threads": 1})
    try:
        w = _Writer(con, data_dir, bucket="bench")
        blocks, overrides, syntax_check = gen(w, rng, sf or default_sf, seed)
        w.finish(blocks, threads, syntax_check, MAX_MEMORY_MB)
    finally:
        con.close()
    digest, in_bytes = dir_digest(data_dir)
    return Spec(
        workload=workload,
        data_dir=data_dir,
        digest=digest,
        input_bytes=in_bytes,
        statements=sum(
            len(split_script(s))
            for b in blocks for c in b["codes"] for s in c["script"]
        ),
        outputs=list(w.outputs),
        oracle_overrides=overrides,
    )
