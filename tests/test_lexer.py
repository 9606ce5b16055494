"""One SQL lexer (sql/lexer.py) behind every text scanner: unit tests of
the mask and the depth helpers, the parse() cases that quote parity got
wrong, a comment-injection mutation over the frontend and babel corpus
statements, and a guard that keeps new quote-parity scanners out of the
package."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from calcite_spark.queries.inventory import catalog_for
from calcite_spark.sql import lexer
from calcite_spark.sql.frontend import SqlFrontend
from tests.conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parent.parent


# -- mask ---------------------------------------------------------------


def test_mask_doubled_quote_stays_inside_literal():
    text = "SELECT 'it''s', x"
    assert lexer.mask(text) == "SELECT '     ', x"


def test_mask_paren_inside_literal_is_opaque():
    text = "f('(', x)"
    m = lexer.mask(text)
    assert m == "f(' ', x)"
    assert m.count("(") == 1


def test_mask_nested_comments_next_to_literals():
    # a comment is whitespace: blanked whole, delimiters included
    text = "a/* x /* 'y */ z' */'/*' -- c'd\nb"
    assert lexer.mask(text) == "a" + " " * 19 + "'  ' " + " " * 6 + "\nb"


def test_mask_comment_keeps_only_its_newlines():
    text = "a, -- it's\n  b /* x\ny */ - 1"
    want = "a, " + " " * 7 + "\n  b " + " " * 4 + "\n" + " " * 4 + " - 1"
    assert lexer.mask(text) == want
    assert "-" not in lexer.mask("x -- y\n")


def test_mask_hint_and_quoted_names():
    text = 'SELECT /*+ BROADCAST(t) */ `it\'s`, "a(b" FROM t'
    assert lexer.mask(text) == 'SELECT /*               */ `    `, "   " FROM t'


def test_mask_keeps_length_and_unterminated_runs_to_end():
    for text in ["'abc", "x /* y", "a -- b", "'a''", '"q', "`q"]:
        assert len(lexer.mask(text)) == len(text)
    assert lexer.mask("x = 'ab") == "x = '  "


def test_backslash_escapes_nothing():
    # the literal ends at the second quote, as quote parity read it
    assert lexer.mask(r"'a\'b'") == r"'  'b'"


# -- balanced_span / split_top_level / find_top_level -------------------


def test_balanced_span_skips_literal_and_comment_parens():
    text = "f(a, ')', /* ( */ g(b), 'it''s') + 1"
    inner, close = lexer.balanced_span(text, 2)
    assert inner == "a, ')', /* ( */ g(b), 'it''s'"
    assert text[close] == ")" and text[close + 1 :] == " + 1"


def test_balanced_span_brackets_and_unbalanced():
    text = "ARRAY[x[0], ']', 2]"
    inner, close = lexer.balanced_span(text, 6, "]")
    assert inner == "x[0], ']', 2" and close == len(text) - 1
    with pytest.raises(ValueError):
        lexer.balanced_span("f(a, ')'", 2)  # the ')' is literal text


def test_split_top_level():
    assert lexer.split_top_level("a, 'x,y', f(b, c), \"q,r\" /* , */") == [
        "a", "'x,y'", "f(b, c)", '"q,r" /* , */',
    ]
    assert lexer.split_top_level("'it''s', '('") == ["'it''s'", "'('"]
    assert lexer.split_top_level("   ") == []


def test_find_top_level():
    text = "SELECT (SELECT 1 FROM u), 'FROM' /* FROM */ FROM t"
    assert lexer.find_top_level(text, "FROM") == text.rindex("FROM")
    assert lexer.find_top_level(text, "WHERE") == -1
    assert list(lexer.iter_top_level("a AND (b AND c) AND d", "AND")) == [2, 16]


def test_split_comments():
    assert lexer.split_comments("/* it's */ SELECT 1\n-- it's") == (
        "/* it's */ ", "SELECT 1", "\n-- it's",
    )
    # hints are part of the statement
    assert lexer.split_comments("/*+ H */ SELECT 1")[1] == "/*+ H */ SELECT 1"


def test_strip_comments_keeps_literals_and_hints():
    text = "SELECT /*+ H */ a, -- it's\n '-- x' /* y */ FROM t"
    assert lexer.strip_comments(text) == "SELECT /*+ H */ a,  \n '-- x'   FROM t"


def test_matches_read_the_original_text():
    m = lexer.search(r"TIMESTAMP\s+'([^']*)'", "x = TIMESTAMP '2020-01-01 00:00'")
    assert m.group(1) == "2020-01-01 00:00"
    out = lexer.sub(r"(?i)\bfoo\b", lambda m: "bar", "foo 'foo' -- foo\nfoo")
    assert out == "bar 'foo' -- foo\nbar"


# -- parse(): the cases quote parity got wrong --------------------------


@pytest.fixture(scope="module")
def fe(spark):
    return SqlFrontend(catalog_for(spark, SF_DIR))


_EXPANDED = "array(1,2) AS a, coalesce(a,b,c) FROM t"


@pytest.mark.parametrize(
    "sql, want",
    [
        (
            "SELECT 1 AS `it's`, ARRAY[1,2] AS a, NVL(a,b,c) FROM t",
            f"SELECT 1 AS `it's`, {_EXPANDED}",
        ),
        (
            "SELECT 1 AS \"it's\", ARRAY[1,2] AS a, NVL(a,b,c) FROM t",
            f"SELECT 1 AS \"it's\", {_EXPANDED}",
        ),
        (
            "-- it's\nSELECT ARRAY[1,2] AS a, NVL(a,b,c) FROM t",
            f"-- it's\nSELECT {_EXPANDED}",
        ),
        (
            "/* it's */ SELECT ARRAY[1,2] AS a, NVL(a,b,c) FROM t",
            f"/* it's */ SELECT {_EXPANDED}",
        ),
    ],
    ids=["backtick", "double_quoted", "line_comment", "block_comment"],
)
def test_apostrophe_outside_literals_does_not_stop_expansion(fe, sql, want):
    assert fe.parse(sql)[0] == want


def test_comment_dash_is_not_a_unary_minus(fe):
    # the operand of `::` must not start at the comment's second dash
    out = fe.parse("SELECT a, -- first column\n  b::int AS c FROM t")[0]
    assert out == "SELECT a,  \n  CAST(b AS int) AS c FROM t"
    out = fe.parse("SELECT a, -- 2 *\n b::int AS c FROM t")[0]
    assert out == "SELECT a,  \n CAST(b AS int) AS c FROM t"
    m = lexer.search(r"(?:-\s*)?\w+::int", "SELECT a, -- x\n b::int")
    assert m.group() == "b::int"


def test_trailing_comment_stays_after_appended_clause(fe):
    out = fe.parse("SELECT a, b BY k FROM t\n-- it's")[0]
    assert out.endswith("ORDER BY k\n-- it's")


# -- mutation: comments around every corpus statement -------------------

_CORPUS = ["test_sql_frontend.py"] + [
    f"test_babel_corpus{i}.py" for i in range(3, 8)
]
_PREFIX, _SUFFIX = "/* it's */ ", "\n-- it's"


def _corpus_statements() -> list[str]:
    out = []
    for name in _CORPUS:
        tree = ast.parse((ROOT / "tests" / name).read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and re.match(r"(?is)\s*(SELECT|WITH|VALUES)\b", node.value)
            ):
                out.append(node.value)
    return sorted(set(out))


def _parse(fe, sql):
    try:
        return fe.parse(sql)
    except Exception as e:  # the refusal must survive the mutation too
        return type(e)


def test_comment_mutation_keeps_expansion(fe):
    stmts = _corpus_statements()
    assert len(stmts) > 100
    bad = []
    for sql in stmts:
        want = _parse(fe, sql)
        got = _parse(fe, _PREFIX + sql + _SUFFIX)
        if isinstance(want, tuple):
            want = (_PREFIX + want[0] + _SUFFIX, want[1])
        if got != want:
            bad.append((sql, want, got))
    assert not bad, bad[:3]


_INLINE = " -- it's"
_TOKEN_RE = re.compile(r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|`[^`]*`|\w+|\S")


def _inline_comments(sql: str) -> str:
    """`sql` with a `-- it's` comment after every comma and at the end
    of every line, wherever the mask shows plain SQL there."""
    mk, out = lexer.mask(sql), []
    for ch, m in zip(sql, mk):
        if m == "\n" and ch == "\n":
            out.append(_INLINE)
        out.append(ch)
        if m == ",":
            out.append(_INLINE + "\n")
    return "".join(out)


def _tokens(sql: str) -> list[str]:
    """The tokens of `sql` with its comments dropped."""
    return _TOKEN_RE.findall(lexer.strip_comments(sql))


def test_inline_comment_mutation_keeps_expansion(fe):
    stmts = [s for s in _corpus_statements() if "," in s or "\n" in s]
    assert len(stmts) > 100
    bad = []
    for sql in stmts:
        want = _parse(fe, sql)
        got = _parse(fe, _inline_comments(sql))
        if isinstance(want, tuple) and isinstance(got, tuple):
            want = (_tokens(want[0]), want[1])
            got = (_tokens(got[0]), got[1])
        if got != want:
            bad.append((sql, want, got))
    assert not bad, f"{len(bad)} of {len(stmts)}: {bad[:3]}"


# -- guard: one lexer --------------------------------------------------

# character loops that scan formats other than SQL text: PostgreSQL
# array text ('{"a,b",c}') and Java datetime patterns
_ALLOWED_TOGGLES = {
    ("sql/frontend.py", "_pg_array_text_nested"),
    ("sql/frontend.py", "_pg_array_text_to_sql"),
    ("functions/dt_compile.py", "check_parse_pattern"),
}
_PARITY_RE = re.compile(r"""\.count\(\s*(?:"'"|'\\'')""")
_TOGGLE_RE = re.compile(r"\b(\w+)\s*=\s*not\s+\1\b")


def _quote_scanners(src: str, rel: str) -> list[str]:
    found = []
    tree = ast.parse(src)
    lines = src.splitlines()
    funcs = [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    for no, line in enumerate(lines, 1):
        if _PARITY_RE.search(line):
            found.append(f"{rel}:{no}: quote-parity check")
        if _TOGGLE_RE.search(line):
            owner = min(
                (f for f in funcs if f.lineno <= no <= f.end_lineno),
                key=lambda f: f.end_lineno - f.lineno,
                default=None,
            )
            if (rel, getattr(owner, "name", None)) not in _ALLOWED_TOGGLES:
                found.append(f"{rel}:{no}: hand-rolled in-string toggle")
    return found


def test_no_quote_scanner_outside_the_lexer():
    pkg = ROOT / "calcite_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel != "sql/lexer.py":
            found += _quote_scanners(path.read_text(), rel)
    assert not found, "use calcite_spark.sql.lexer instead:\n" + "\n".join(found)


def test_guard_catches_a_new_scanner():
    src = (
        "def f(text, pos):\n"
        "    in_str = False\n"
        "    in_str = not in_str\n"
        "    return text.count(\"'\", 0, pos) % 2\n"
    )
    assert len(_quote_scanners(src, "x.py")) == 2
