"""Minimal SQL tokenizer shared by the dependency parser
(plans.sql_parser), the executor's statement parsers (plans.executor)
and the dialect translator (functions.dialect).

The reference delegates parsing to sqlglot (reference src/sql_parser.py:35).
This engine instead uses a purpose-built tokenizer: the scheduling layer
only needs statement boundaries, statement class, and table identifiers —
full expression ASTs are Catalyst's job once the SQL reaches
``spark.sql``.

Token kinds:
- ``word``     bare identifier / keyword / number
- ``string``   single-quoted literal, '' escapes kept verbatim
- ``qident``   double-quoted identifier, "" escapes kept verbatim
- ``bident``   backtick-quoted identifier
- ``comment``  -- line or /* block */ (preserved so the translator can
               round-trip; the parser skips them)
- ``op``       any other punctuation, one token per char except multi-char
               operators (::, <=, >=, <>, !=, ||, //)

Bracket nesting is decided here and nowhere else. The brackets are the
``op`` tokens ``(``, ``[`` and ``{``, closed by any of ``)``, ``]``
and ``}``; a bracket inside a string, quoted identifier or comment is
part of that token and never counts. The depth before a token is the
number of opening brackets before it less the number of closing ones,
and a token is *top level* when that depth is 0 and it is not itself a
bracket (a stray closing bracket takes the depth below 0, so the
tokens after it are not top level until an opening bracket brings it
back). Four functions serve every scan:

- ``next_code(tokens, i)``: index of the first non-whitespace,
  non-comment token after ``i`` (``len(tokens)`` when none);
- ``closing(tokens, i)``: index of the bracket closing the one at
  ``i``; when ``tokens[i]`` opens nothing, of the bracket closing the
  scope ``i`` lies in (``len(tokens)`` when none closes);
- ``top_level(tokens, lo, hi)``: ``(j, token)`` for each top-level
  token of ``tokens[lo:hi]``, the depth counted from ``lo``;
- ``split_top_commas(tokens, lo, hi)``: ``(start, end)`` spans of the
  items between its top-level commas.

``balanced(tokens)`` says whether every bracket closes with its own
kind; ``functions.dialect.translate`` hands an unbalanced statement
back unchanged, so its passes may assume balanced input.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, List, Optional

_MULTI_OPS = ("::", "<=", ">=", "<>", "!=", "||", "//", "->>", "->", "**")


@dataclass
class Token:
    kind: str  # word | string | qident | bident | comment | op | ws
    text: str

    @property
    def upper(self) -> str:
        return self.text.upper() if self.kind == "word" else self.text

    def is_kw(self, *kws: str) -> bool:
        return self.kind == "word" and self.text.upper() in kws


def _dollar_quote_end(sql: str, i: int):
    """At a '$': if this opens a DuckDB dollar-quoted string ($$ or
    $tag$), return (index after the opening delimiter, index of the
    closing delimiter); else None."""
    n = len(sql)
    j = i + 1
    while j < n and (sql[j].isalnum() or sql[j] == "_"):
        j += 1
    if j >= n or sql[j] != "$":
        return None
    delim = sql[i : j + 1]
    close = sql.find(delim, j + 1)
    if close < 0:
        return None
    return (j + 1, close)


def tokenize(sql: str) -> List[Token]:
    """Tokenize, preserving every character (join of token texts == sql;
    the one exception is dollar-quoted strings, normalized to standard
    single-quoted literals)."""
    tokens: List[Token] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch.isspace():
            j = i
            while j < n and sql[j].isspace():
                j += 1
            tokens.append(Token("ws", sql[i:j]))
            i = j
        elif ch == "-" and sql.startswith("--", i):
            j = sql.find("\n", i)
            j = n if j < 0 else j
            tokens.append(Token("comment", sql[i:j]))
            i = j
        elif ch == "/" and sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            j = n if j < 0 else j + 2
            tokens.append(Token("comment", sql[i:j]))
            i = j
        elif ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            tokens.append(Token("string", sql[i:j]))
            i = j
        elif ch == '"':
            j = i + 1
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            tokens.append(Token("qident", sql[i:j]))
            i = j
        elif ch == "`":
            j = sql.find("`", i + 1)
            j = n if j < 0 else j + 1
            tokens.append(Token("bident", sql[i:j]))
            i = j
        elif ch == "$" and _dollar_quote_end(sql, i) is not None:
            # DuckDB dollar-quoted string: $tag$ ... $tag$ — normalized
            # to a standard single-quoted literal (the one place join of
            # token texts != input; every consumer sees plain strings)
            tag_end, close = _dollar_quote_end(sql, i)
            content = sql[tag_end:close]
            tokens.append(Token("string", "'" + content.replace("'", "''") + "'"))
            i = close + (tag_end - i)  # skip the closing delimiter
        elif ch.isalnum() or ch == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] in "_$"):
                j += 1
            head = sql[i:j]
            digits_only = head.replace("_", "").isdigit() and head[0].isdigit()
            # bare signed exponent without a dot: 1e-3 / 12E+7 stay one
            # token (identifiers can't start with a digit, so a head
            # like '1e' is always a numeric literal — splitting it left
            # passes that reassemble operands emitting '1e' alone)
            if (
                j < n
                and sql[j] in "+-"
                and head
                and head[0].isdigit()
                and head[-1] in "eE"
                and head[:-1].replace("_", "").isdigit()
                and j + 1 < n
                and sql[j + 1].isdigit()
            ):
                k = j + 1
                while k < n and sql[k].isdigit():
                    k += 1
                j = k
                head = sql[i:j]
            # keep floats like 1.5 / 1e-3 / 1_000.5 as one word token
            if j < n and sql[j] == "." and digits_only:
                k = j + 1
                while k < n and (sql[k].isalnum() or sql[k] in "_" or (sql[k] in "+-" and sql[k - 1] in "eE")):
                    k += 1
                if k > j + 1:
                    j = k
            # (numeric underscore separators like 1_000_000 stay in the
            # token here — the dialect strips them, keeping this
            # tokenizer lossless for arbitrary input)
            tokens.append(Token("word", sql[i:j]))
            i = j
        else:
            matched = False
            for op in _MULTI_OPS:
                if sql.startswith(op, i):
                    tokens.append(Token("op", op))
                    i += len(op)
                    matched = True
                    break
            if not matched:
                tokens.append(Token("op", ch))
                i += 1
    return tokens


def code_tokens(tokens: List[Token]) -> Iterator[tuple[int, Token]]:
    """(index, token) pairs skipping whitespace and comments."""
    for idx, tok in enumerate(tokens):
        if tok.kind not in ("ws", "comment"):
            yield idx, tok


_OPEN = ("(", "[", "{")
_CLOSE = (")", "]", "}")


def next_code(tokens: List[Token], i: int) -> int:
    """Index of the first non-whitespace, non-comment token after
    ``i``; ``len(tokens)`` when there is none."""
    j = i + 1
    while j < len(tokens) and tokens[j].kind in ("ws", "comment"):
        j += 1
    return j


def closing(tokens: List[Token], i: int) -> int:
    """Index of the bracket closing the one at ``i`` or, when
    ``tokens[i]`` is not an opening bracket, the scope ``i`` lies in:
    ``len(tokens)`` when none does."""
    n = len(tokens)
    # a scan from inside a scope starts one level down
    depth = 0 if i < n and tokens[i].kind == "op" and tokens[i].text in _OPEN else 1
    for j in range(i, n):
        t = tokens[j]
        if t.kind == "op":
            if t.text in _OPEN:
                depth += 1
            elif t.text in _CLOSE:
                depth -= 1
                if depth == 0:
                    return j
    return n


def top_level(tokens: List[Token], lo: int = 0, hi: Optional[int] = None) -> Iterator[tuple[int, Token]]:
    """``(j, token)`` for each token of ``tokens[lo:hi]`` at depth 0
    that is not a bracket (see the module docstring)."""
    depth = 0
    for j in range(lo, len(tokens) if hi is None else hi):
        t = tokens[j]
        if t.kind == "op" and t.text in _OPEN:
            depth += 1
        elif t.kind == "op" and t.text in _CLOSE:
            depth -= 1
        elif depth == 0:
            yield j, t


def split_top_commas(tokens: List[Token], lo: int, hi: int) -> List[tuple[int, int]]:
    """(start, end) spans of the comma-separated items of
    ``tokens[lo:hi]`` at depth 0; an empty run is one empty item."""
    spans = []
    start = lo
    for j, t in top_level(tokens, lo, hi):
        if t.kind == "op" and t.text == ",":
            spans.append((start, j))
            start = j + 1
    spans.append((start, hi))
    return spans


def balanced(tokens: List[Token]) -> bool:
    """True when every bracket closes, with its own kind, and no
    closing bracket comes first."""
    stack: List[str] = []
    for t in tokens:
        if t.kind != "op":
            continue
        if t.text in _OPEN:
            stack.append(_CLOSE[_OPEN.index(t.text)])
        elif t.text in _CLOSE and (not stack or stack.pop() != t.text):
            return False
    return not stack


def split_statements(sql: str) -> List[str]:
    """Split a script on top-level ';' (strings/comments safe); drops
    empty fragments. Mirrors multi-statement scripts in the reference's
    configs (e.g. tests/functional/query_dependencies config.json:12-18)."""
    tokens = tokenize(sql)
    statements: List[str] = []
    current: List[str] = []
    for tok in tokens:
        if tok.kind == "op" and tok.text == ";":
            stmt = "".join(current).strip()
            if stmt:
                statements.append(stmt)
            current = []
        else:
            current.append(tok.text)
    stmt = "".join(current).strip()
    if stmt:
        statements.append(stmt)
    return statements


def _bt(name: str) -> str:
    """Backtick-quote a (possibly dotted / dashed) logical name."""
    return "`" + name.replace("`", "``") + "`"


def unquote_name(tok: Token) -> str:
    """Canonical table name for a name-position token.

    DuckDB semantics preserved (reference README.md:105-121): unquoted
    names are case-insensitive -> lowercased; quoted ("..."/`...`) and
    string-literal ('...') names keep their case.
    """
    if tok.kind == "word":
        return tok.text.lower()
    if tok.kind == "qident":
        return tok.text[1:-1].replace('""', '"')
    if tok.kind == "bident":
        return tok.text[1:-1]
    if tok.kind == "string":
        return tok.text[1:-1].replace("''", "'")
    return tok.text
