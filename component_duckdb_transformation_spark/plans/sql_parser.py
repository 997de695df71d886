"""SQL statement classification and dependency/output extraction.

Engine-neutral scheduling metadata, re-implementing the behavior of
reference ``src/sql_parser.py:14-128`` (which uses sqlglot) with the
local tokenizer:

- statement type: CREATE TABLE / CREATE VIEW / INSERT / UPDATE / DELETE /
  SELECT / OTHER (reference src/sql_parser.py:14-17, 26-46)
- outputs: tables written by CREATE / INSERT / UPDATE / DELETE
  (reference src/sql_parser.py:89-102)
- dependencies: tables read (FROM/JOIN), minus CTE aliases, minus the
  statement's own outputs (reference src/sql_parser.py:48-128; CTE-alias
  exclusion at 104-107 — load-bearing for scheduling, see unit
  expectation tests/unit/test_expected_input_tables_action.py:25-33)

Identifier canonicalization follows DuckDB semantics (reference
README.md:105-121): unquoted names lowercase; quoted/string-literal
names keep case.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import List, Optional, Sequence, Set

from .sql_tokens import (
    Token,
    closing,
    code_tokens,
    split_statements,
    tokenize,
    unquote_name,
)

_NAME_KINDS = ("word", "qident", "bident", "string")
# words that may directly follow FROM/JOIN but are not table names
_NOT_A_TABLE = {
    "SELECT", "LATERAL", "UNNEST", "VALUES", "WITH",
}
_JOIN_PRECEDERS = {"JOIN"}


class StatementType(str, Enum):
    CREATE_TABLE = "CREATE_TABLE"
    CREATE_VIEW = "CREATE_VIEW"
    INSERT = "INSERT"
    UPDATE = "UPDATE"
    DELETE = "DELETE"
    DROP = "DROP"
    ALTER = "ALTER"
    MERGE = "MERGE"
    SELECT = "SELECT"
    OTHER = "OTHER"

    @property
    def is_create(self) -> bool:
        return self in (StatementType.CREATE_TABLE, StatementType.CREATE_VIEW)

    @property
    def mutates(self) -> bool:
        return self in (
            StatementType.INSERT,
            StatementType.UPDATE,
            StatementType.DELETE,
            StatementType.DROP,
            StatementType.ALTER,
            StatementType.MERGE,
        )


#: object kinds a CREATE/DROP head names; DuckDB's FUNCTION is a MACRO
_KIND_WORDS = {
    "TABLE": "table", "VIEW": "view", "MACRO": "macro", "FUNCTION": "macro",
    "TYPE": "type", "SEQUENCE": "sequence",
}
#: session-catalog objects: no table-level outputs the scheduler can see
_CATALOG_KINDS = ("macro", "type", "sequence")
#: statements whose subject is a relation named right after the verb
_SUBJECT_VERBS = ("SUMMARIZE", "DESCRIBE", "SHOW")
_NOT_A_SUBJECT = ("TABLES", "SELECT", "WITH", "FROM", "VALUES", "TABLE")


@dataclass(frozen=True)
class StatementHead:
    """What a statement is and what it names, read once from its
    leading keywords (reference src/sql_parser.py:26-46 asks sqlglot
    the same question)."""

    verb: str = ""  # CREATE, DROP, INSERT, ...; SELECT for SELECT/WITH queries
    kind: str = ""  # table | view | macro | type | sequence | "" (none)
    name: Optional[str] = None  # the target or subject, canonicalized
    or_replace: bool = False  # CREATE OR REPLACE / INSERT OR REPLACE
    or_ignore: bool = False  # INSERT OR IGNORE
    temp: bool = False
    if_exists: bool = False  # IF EXISTS (DROP, ALTER) / IF NOT EXISTS (CREATE)
    size: int = 0  # code tokens the head spans

    @property
    def is_catalog_ddl(self) -> bool:
        """CREATE or DROP of a macro, type or sequence."""
        return self.verb in ("CREATE", "DROP") and self.kind in _CATALOG_KINDS


@dataclass
class ParsedStatement:
    sql: str
    statement_type: StatementType
    outputs: Set[str] = field(default_factory=set)
    dependencies: Set[str] = field(default_factory=set)
    cte_aliases: Set[str] = field(default_factory=set)
    head: StatementHead = field(default_factory=StatementHead)

    @property
    def tail(self) -> str:
        """The text after the head: an ALTER's action, a macro's
        parameters and body, a type's ENUM list, a sequence's options,
        a DESCRIBE'd query. Read from ``sql`` as it is now, so it
        follows the executor's rewrites of the body."""
        tokens = tokenize(self.sql)
        code = [i for i, t in enumerate(tokens) if t.kind not in ("ws", "comment")]
        if self.head.size >= len(code):
            return ""
        tail = "".join(t.text for t in tokens[code[self.head.size]:])
        return tail.strip().rstrip(";").rstrip()


def parse_script(script: str) -> List[ParsedStatement]:
    """Parse a (possibly multi-statement) script string."""
    return [parse_statement(stmt) for stmt in split_statements(script)]


def parse_statement(sql: str) -> ParsedStatement:
    tokens = tokenize(sql)
    code = list(code_tokens(tokens))
    head = _parse_head(code)
    stype = _statement_type(head)
    ctes = _collect_cte_aliases(code)
    outputs = _collect_outputs(code, head, stype)
    deps = _collect_dependencies(code)
    deps -= ctes
    # Reference semantics (src/sql_parser.py:104-124): CREATE outputs and
    # the INSERT target are excluded from dependencies; UPDATE/DELETE
    # targets REMAIN dependencies (they read the table being mutated), so
    # the scheduler orders them after the table's producer.
    if stype.is_create or stype == StatementType.INSERT:
        deps -= outputs
    elif stype.mutates:
        # the target must exist first: order after its producer
        deps |= outputs
    elif head.verb in _SUBJECT_VERBS and head.name:
        # SUMMARIZE/DESCRIBE/SHOW read their subject table: order after
        # its producer (the subject is not FROM-introduced, so the
        # generic dependency scan misses it)
        deps.add(head.name)
    if head.kind == "sequence":
        # CREATE/DROP SEQUENCE writes the sequence name; nextval
        # advances it (read-modify-write), so it is an output too —
        # writer-serialization edges then order concurrent users
        outputs = {head.name.lower()} if head.name else set()
        deps = set()
    else:
        # token-shaped scan: a string literal containing the pattern
        # (e.g. VALUES ('uses nextval(''s'')')) must not add phantom
        # sequence edges
        for pos, (_, tok) in enumerate(code):
            if tok.kind != "word" or tok.text.lower() not in (
                "nextval",
                "currval",
            ):
                continue
            if (
                pos + 2 < len(code)
                and code[pos + 1][1].kind == "op"
                and code[pos + 1][1].text == "("
                and code[pos + 2][1].kind == "string"
            ):
                seq_name = code[pos + 2][1].text[1:-1].replace("''", "'")
                target = (
                    outputs if tok.text.lower() == "nextval" else deps
                )
                target.add(seq_name.strip('`"').lower())
        if stype in (
            StatementType.INSERT, StatementType.UPDATE, StatementType.DELETE
        ) and any(t.is_kw("RETURNING") for _, t in code):
            # INSERT/UPDATE/DELETE ... RETURNING registers the
            # `returning` view (added after the mutation branch above
            # folded outputs into deps, so no self-dependency appears)
            outputs.add("returning")
    return ParsedStatement(
        sql=sql,
        statement_type=stype,
        outputs=outputs,
        dependencies=deps,
        cte_aliases=ctes,
        head=head,
    )


def _parse_head(code: Sequence[tuple[int, Token]], i: int = 0) -> StatementHead:
    """The head of the statement starting at code index ``i``: verb,
    object kind, target name and the OR REPLACE / TEMP / IF [NOT]
    EXISTS flags. Only leading keywords are read, so words in literals,
    comments and bodies never change what a statement is."""
    n = len(code)
    if i >= n:
        return StatementHead()
    verb = code[i][1].upper
    if verb in ("SELECT", "WITH"):
        # WITH ... INSERT / WITH ... CREATE TABLE|VIEW are valid in
        # DuckDB (the reference's sqlglot classifies them by the inner
        # statement; its own unit fixtures use the CREATE form)
        for j in range(i + 1, n):
            tok = code[j][1]
            if tok.is_kw("INSERT") or (verb == "WITH" and tok.is_kw("CREATE")):
                return _parse_head(code, j)
        return StatementHead("SELECT", size=i + 1)
    i += 1

    def kw(*words: str) -> bool:
        nonlocal i
        if i + len(words) <= n and all(
            code[i + k][1].is_kw(w) for k, w in enumerate(words)
        ):
            i += len(words)
            return True
        return False

    flags: dict = {}
    kind = ""
    if verb in ("CREATE", "DROP"):
        if verb == "CREATE":
            flags["or_replace"] = kw("OR", "REPLACE")
            flags["temp"] = kw("TEMP") or kw("TEMPORARY")
        kind = _KIND_WORDS.get(code[i][1].upper, "") if i < n else ""
        if not kind:
            return StatementHead(verb, size=i, **flags)
        i += 1
        flags["if_exists"] = kw("IF", "NOT", "EXISTS") or kw("IF", "EXISTS")
    elif verb in ("ALTER", "TRUNCATE"):
        # TRUNCATE [TABLE] t; ALTER TABLE|VIEW [IF EXISTS] t <action>
        kind = "table" if kw("TABLE") or verb == "TRUNCATE" else ""
        if not kind and kw("VIEW"):
            kind = "view"
        flags["if_exists"] = kw("IF", "EXISTS")
    elif verb == "INSERT":
        flags["or_replace"] = kw("OR", "REPLACE")
        flags["or_ignore"] = kw("OR", "IGNORE")
        kw("INTO")
    elif verb == "DELETE":
        kw("FROM")
    elif verb == "MERGE":
        kw("INTO")
    elif verb in _SUBJECT_VERBS:
        if i < n and code[i][1].is_kw(*_NOT_A_SUBJECT):
            return StatementHead(verb, size=i)
    elif verb != "UPDATE":
        return StatementHead(verb, size=i)
    name, i = _head_name(code, i)
    return StatementHead(verb, kind, name, size=i, **flags)


def _head_name(code: Sequence[tuple[int, Token]], i: int) -> tuple[Optional[str], int]:
    """A possibly-dotted name at code index ``i`` (a name followed by
    ``(`` is still a name here: ``CREATE TABLE t (a INT)``,
    ``CREATE MACRO m(x)``); (None, i) when no name is there."""
    parts: List[str] = []
    while i < len(code) and code[i][1].kind in _NAME_KINDS:
        parts.append(unquote_name(code[i][1]))
        i += 1
        if not (i + 1 < len(code) and code[i][1].text == "." and code[i][1].kind == "op"):
            break
        i += 1
    return (".".join(parts) or None), i


_VERB_TYPES = {
    "INSERT": StatementType.INSERT,
    "UPDATE": StatementType.UPDATE,
    "DELETE": StatementType.DELETE,
    # TRUNCATE t empties t: scheduled like DELETE FROM t
    "TRUNCATE": StatementType.DELETE,
    "ALTER": StatementType.ALTER,
    "MERGE": StatementType.MERGE,
    "SELECT": StatementType.SELECT,
}


def _statement_type(head: StatementHead) -> StatementType:
    """The scheduling class of a statement, from its head."""
    if head.verb == "CREATE":
        return {
            "table": StatementType.CREATE_TABLE,
            "view": StatementType.CREATE_VIEW,
        }.get(head.kind, StatementType.OTHER)
    if head.verb == "DROP":
        return StatementType.OTHER if head.is_catalog_ddl else StatementType.DROP
    return _VERB_TYPES.get(head.verb, StatementType.OTHER)


def _dotted_name(code: Sequence[tuple[int, Token]], pos: int) -> tuple[Optional[str], int]:
    """Read a possibly-dotted table name starting at code index ``pos``.

    Returns (canonical_name, next_pos); (None, pos) when not a name or a
    table-function call (``word (``).
    """
    if pos >= len(code):
        return None, pos
    _, tok = code[pos]
    if tok.kind not in _NAME_KINDS:
        return None, pos
    if tok.kind == "word" and tok.upper in _NOT_A_TABLE:
        return None, pos
    # table function like read_parquet('x') — not a named table
    if pos + 1 < len(code):
        _, nxt = code[pos + 1]
        if tok.kind == "word" and nxt.kind == "op" and nxt.text == "(":
            return None, pos
    parts = [unquote_name(tok)]
    i = pos + 1
    while i + 1 < len(code):
        _, dot = code[i]
        _, part = code[i + 1]
        if dot.kind == "op" and dot.text == "." and part.kind in _NAME_KINDS:
            parts.append(unquote_name(part))
            i += 2
        else:
            break
    return ".".join(parts), i


def _collect_cte_aliases(code: Sequence[tuple[int, Token]]) -> Set[str]:
    aliases: Set[str] = set()
    toks = [t for _, t in code]
    i = 0
    n = len(code)
    while i < n:
        _, tok = code[i]
        if tok.is_kw("WITH"):
            j = i + 1
            if j < n and code[j][1].is_kw("RECURSIVE"):
                j += 1
            # alias loop: name [(cols)] AS [NOT|MATERIALIZED] ( ... ) [, ...]
            while j < n:
                name_tok = code[j][1]
                if name_tok.kind not in _NAME_KINDS or name_tok.is_kw(*_NOT_A_TABLE):
                    break
                alias = unquote_name(name_tok)
                j += 1
                if j < n and code[j][1].text == "(":  # column list
                    j = closing(toks, j) + 1
                if j >= n or not code[j][1].is_kw("AS"):
                    break
                j += 1
                while j < n and code[j][1].is_kw("NOT", "MATERIALIZED"):
                    j += 1
                if j >= n or code[j][1].text != "(":
                    break
                aliases.add(alias)
                j = closing(toks, j) + 1
                if j < n and code[j][1].text == ",":
                    j += 1
                    continue
                break
            i = j
        else:
            i += 1
    return aliases


def _collect_outputs(
    code: Sequence[tuple[int, Token]], head: StatementHead, stype: StatementType
) -> Set[str]:
    outputs: Set[str] = set()
    n = len(code)
    if stype != StatementType.OTHER and stype != StatementType.SELECT:
        if head.name:
            outputs.add(head.name)
        # ALTER TABLE name RENAME TO new also writes the new name
        at = head.size
        if (
            stype == StatementType.ALTER
            and at + 2 < n
            and code[at][1].is_kw("RENAME")
            and code[at + 1][1].is_kw("TO")
        ):
            new_name, _ = _dotted_name(code, at + 2)
            if new_name:
                outputs.add(new_name)
    elif head.verb in _SUBJECT_VERBS:
        # schema/profile statements register result views the scheduler
        # must sequence like any other producer (executor registers
        # them: SUMMARIZE -> `summarize`, DESCRIBE / SHOW t ->
        # `describe`, SHOW TABLES -> `show_tables`)
        if head.verb == "SUMMARIZE":
            outputs.add("summarize")
        elif head.verb == "SHOW" and n > 1 and code[1][1].is_kw("TABLES"):
            outputs.add("show_tables")
        else:
            outputs.add("describe")
    return outputs


# SQL-standard functions whose argument list contains a FROM keyword —
# `EXTRACT(DOW FROM ts)`, `substring(s FROM 2)` — which must NOT be
# treated as a table-list introducer (it would yield phantom deps like
# 'order_date' or '2' and can mis-batch or fake a circular dependency).
_FROM_ARG_FUNCS = {"EXTRACT", "SUBSTRING", "SUBSTR", "TRIM", "POSITION", "OVERLAY"}


def _collect_dependencies(code: Sequence[tuple[int, Token]]) -> Set[str]:
    deps: Set[str] = set()
    n = len(code)
    i = 0
    # paren stack: True = this paren is a FROM-taking function's arg list
    fn_paren: list[bool] = []
    while i < n:
        _, tok = code[i]
        if tok.kind == "op" and tok.text == "(":
            prev = code[i - 1][1] if i > 0 else None
            fn_paren.append(
                prev is not None
                and prev.kind == "word"
                and prev.upper in _FROM_ARG_FUNCS
            )
            i += 1
            continue
        if tok.kind == "op" and tok.text == ")":
            if fn_paren:
                fn_paren.pop()
            i += 1
            continue
        if tok.is_kw("FROM") and not (fn_paren and fn_paren[-1]):
            # DELETE FROM — target, not a read; _collect_outputs handles it
            if code and code[0][1].is_kw("DELETE"):
                prev_idx = i - 1
                if prev_idx == 0:
                    i += 1
                    continue
            i = _capture_from_list(code, i + 1, deps)
        elif tok.is_kw("JOIN"):
            name, nxt = _dotted_name(code, i + 1)
            if name:
                deps.add(name)
                i = nxt
            else:
                i += 1
        elif tok.is_kw("COPY") and i == 0 and i + 1 < n:
            # COPY <table> TO 'path': the table is read
            name, nxt = _dotted_name(code, 1)
            if name is None and code[1][1].kind == "string":
                name, nxt = code[1][1].text[1:-1], 2
            if name:
                deps.add(name)
                i = nxt
            else:
                i += 1
        elif tok.is_kw("PIVOT") and i + 1 < n and code[i + 1][1].kind in _NAME_KINDS:
            # DuckDB statement-level `PIVOT tbl ON ...`: tbl is read
            name, nxt = _dotted_name(code, i + 1)
            if name:
                deps.add(name)
                i = nxt
            else:
                i += 1
        elif tok.is_kw("USING") and i + 1 < n and code[i + 1][1].kind in _NAME_KINDS:
            # `MERGE ... USING src` / duckdb `FROM x USING SAMPLE` — only
            # capture for MERGE-style (name after USING, not '(')
            if code[0][1].is_kw("MERGE"):
                name, nxt = _dotted_name(code, i + 1)
                if name:
                    deps.add(name)
                    i = nxt
                    continue
            i += 1
        else:
            i += 1
    return deps


def _capture_from_list(code: Sequence[tuple[int, Token]], pos: int, deps: Set[str]) -> int:
    """Capture comma-separated table refs after FROM."""
    i = pos
    n = len(code)
    while i < n:
        tok = code[i][1]
        if tok.kind == "op" and tok.text == "(":
            # derived table / subquery: its internal FROMs are found by
            # the outer scan loop; return AT the paren so the outer
            # loop's paren-stack bookkeeping stays balanced
            return i
        name, nxt = _dotted_name(code, i)
        if name is None:
            return i
        deps.add(name)
        i = nxt
        # optional alias: [AS] alias
        if i < n and code[i][1].is_kw("AS") and i + 1 < n:
            i += 2
        elif i < n and code[i][1].kind == "word" and not code[i][1].is_kw(
            "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "JOIN", "ON", "USING",
            "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "CROSS", "NATURAL", "UNION",
            "INTERSECT", "EXCEPT", "QUALIFY", "WINDOW", "SELECT", "SEMI", "ANTI",
        ):
            i += 1
        if i < n and code[i][1].kind == "op" and code[i][1].text == ",":
            i += 1
            continue
        return i
    return i
