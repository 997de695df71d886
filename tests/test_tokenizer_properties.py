"""Property-based guarantees for the SQL tokenizer the whole engine
rests on (parser, dialect, validator all consume its output)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from component_duckdb_transformation_spark.plans.sql_tokens import (
    balanced,
    closing,
    next_code,
    split_statements,
    split_top_commas,
    tokenize,
    top_level,
)

sql_text = st.text(
    alphabet=st.sampled_from(
        list("abcXYZ019 \n\t_.,;()[]{}<>=+-*/%:'\"`|&^!?#~\\")
    ),
    max_size=200,
)


@given(sql_text)
@settings(max_examples=300, deadline=None)
def test_tokenize_is_lossless(sql):
    # concatenating token texts reproduces the input byte-for-byte
    assert "".join(t.text for t in tokenize(sql)) == sql


@given(sql_text)
@settings(max_examples=300, deadline=None)
def test_split_statements_preserves_code(sql):
    # joining split statements loses only separators/whitespace/comments,
    # never identifier or literal characters
    parts = split_statements(sql)
    joined = " ".join(parts)
    for ch in "abcXYZ019":
        assert joined.count(ch) <= sql.count(ch)


@given(st.lists(st.sampled_from(["SELECT 1", "SELECT ';' AS s", "-- c;\nSELECT 2"]), min_size=1, max_size=5))
@settings(max_examples=100, deadline=None)
def test_split_statements_respects_strings_and_comments(stmts):
    script = ";".join(stmts)
    parts = split_statements(script)
    # a ';' inside a string literal or comment never splits a statement
    assert len(parts) == len([s for s in stmts])


def test_dollar_quotes_normalize_to_standard_strings():
    # the ONE intended losslessness exception: $tag$...$tag$ becomes a
    # standard single-quoted literal (content preserved, quotes doubled)
    toks = [t for t in tokenize("SELECT $$a'b$$, $t$x$t$") if t.kind == "string"]
    assert [t.text for t in toks] == ["'a''b'", "'x'"]
    # a bare $ that opens nothing stays verbatim
    assert "".join(t.text for t in tokenize("SELECT $1 + 2")) == "SELECT $1 + 2"


# token pieces for the bracket primitives: every bracket, commas, words,
# and brackets hidden inside strings, quoted identifiers and comments
_PIECES = (
    "(", ")", "[", "]", "{", "}", ",", "a", "b1", " ", "\n", "=",
    "'(['", "'x,)'", '"c(l"', "`]`", "-- ) ,\n", "/* ( } */",
)
token_texts = st.lists(st.sampled_from(_PIECES), max_size=40).map("".join)


def _reference(tokens):
    """Stack walk: the depth before each token (opens less closes), and
    for each token the closing bracket that ends it: for an opening
    bracket the one that pops it, for a closing bracket itself, for any
    other token the one that pops the innermost bracket open around it
    (a stray closing bracket pops the outermost scope)."""
    frames, under, depths, ends = [[]], 0, [], {}
    for j, t in enumerate(tokens):
        depths.append(len(frames) - 1 - under)
        if t.kind == "op" and t.text in "([{":
            frames.append([j])
        elif t.kind == "op" and t.text in ")]}":
            ends[j] = j
            for k in frames.pop():
                ends[k] = j
            if not frames:
                frames.append([])
                under += 1
        else:
            frames[-1].append(j)
    return depths, ends


def _is_bracket(t):
    return t.kind == "op" and t.text in "()[]{}"


@given(token_texts)
@settings(max_examples=400, deadline=None)
def test_bracket_primitives_match_a_stack(sql):
    tokens = tokenize(sql)
    depths, ends = _reference(tokens)
    n = len(tokens)
    for lo in range(0, n + 1, 3):
        for hi in range(lo, n + 1, 4):
            assert [j for j, _ in top_level(tokens, lo, hi)] == [
                j for j in range(lo, hi)
                if not _is_bracket(tokens[j]) and depths[j] == depths[lo]
            ]
            spans = split_top_commas(tokens, lo, hi)
            assert ",".join(
                "".join(t.text for t in tokens[a:b]) for a, b in spans
            ) == "".join(t.text for t in tokens[lo:hi])
            for (_, b), (a, _) in zip(spans, spans[1:]):
                assert a == b + 1 and tokens[b].text == ","
                assert b in {j for j, _ in top_level(tokens, lo, hi)}
    assert [j for j, _ in top_level(tokens)] == [
        j for j in range(n) if not _is_bracket(tokens[j]) and depths[j] == 0
    ]
    for j in range(n):
        assert closing(tokens, j) == ends.get(j, n)
        k = next_code(tokens, j)
        assert all(x.kind in ("ws", "comment") for x in tokens[j + 1:k])
        assert k == n or tokens[k].kind not in ("ws", "comment")


@given(token_texts)
@settings(max_examples=400, deadline=None)
def test_balanced_matches_a_typed_stack(sql):
    stack, ok = [], True
    for t in tokenize(sql):
        if t.kind == "op" and t.text in "([{":
            stack.append(")]}"["([{".index(t.text)])
        elif t.kind == "op" and t.text in ")]}":
            ok = ok and bool(stack) and stack.pop() == t.text
    assert balanced(tokenize(sql)) == (ok and not stack)


def test_brackets_in_strings_and_comments_do_not_nest():
    tokens = tokenize("f('(', \"[\" /* { */, -- )\n x)")
    assert closing(tokens, 1) == len(tokens) - 1
    assert ["".join(t.text for t in tokens[a:b]) for a, b in split_top_commas(tokens, 2, len(tokens) - 1)] == [
        "'('", ' "[" /* { */', " -- )\n x",
    ]
    assert balanced(tokens) and not balanced(tokenize("(]")) and not balanced(tokenize(")("))
