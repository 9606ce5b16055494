"""SQL lexical rules in one place ≈ the token manager Calcite generates
from its JavaCC grammar (core/src/main/codegen/templates/Parser.jj):
every later text pass agrees on what a string literal is.

Opaque regions:
  * '...' string literals — a doubled '' stays inside the literal; a
    backslash escapes nothing;
  * "..." and `...` quoted names (doubled delimiters stay inside);
  * -- line comments and /* ... */ block comments (nested, hints
    /*+ ... */ included).
An unterminated region runs to the end of the text.

The core is `mask(text)`: the same text with each literal's, name's and
hint's contents blanked and its delimiters kept in place, and each
comment blanked whole (newlines kept), since to SQL it is whitespace.
Regexes and depth counters run on the mask; every slice is taken from
the original text at the same offsets, so patterns that read literal contents (TIMESTAMP '...',
'{1,2}') still see them. `finditer` / `search` / `sub` do exactly that
and hand back matches that read the original text.
"""

from __future__ import annotations

import re
from functools import lru_cache

_OPENER = re.compile(r"['\"`]|--|/\*")
_BLOCK_EDGE = re.compile(r"/\*|\*/")
_TOP_COMMA = re.compile(r"[(),]")
_BRACKETS = {")": re.compile(r"[()]"), "]": re.compile(r"[\[\]]")}
_NOT_NEWLINE = re.compile(r"[^\n]")


@lru_cache(maxsize=256)
def regions(text: str) -> tuple:
    """(start, body_start, body_end, end) of every opaque region, in
    order: text[start:body_start] and text[body_end:end] are its
    delimiters."""
    out, i, n = [], 0, len(text)
    while True:
        m = _OPENER.search(text, i)
        if m is None:
            return tuple(out)
        s, tok = m.start(), m.group()
        if tok == "--":
            e = text.find("\n", s)
            body_end = end = n if e < 0 else e
        elif tok == "/*":
            depth, end = 1, n
            for c in _BLOCK_EDGE.finditer(text, s + 2):
                depth += 1 if c.group() == "/*" else -1
                if depth == 0:
                    end = c.end()
                    break
            body_end = end - 2 if depth == 0 else n
        else:
            j = s + 1
            while True:
                k = text.find(tok, j)
                if k < 0:
                    body_end = end = n
                    break
                if text.startswith(tok, k + 1):
                    j = k + 2  # doubled delimiter: still inside
                    continue
                body_end, end = k, k + 1
                break
        out.append((s, m.end(), body_end, end))
        i = end


@lru_cache(maxsize=256)
def mask(text: str) -> str:
    """`text` with the contents of every literal, quoted name and hint
    blanked to spaces, delimiters in place, and every comment blanked
    whole but for its newlines: to SQL a comment is whitespace. Same
    length as `text`."""
    regs = regions(text)
    if not regs:
        return text
    parts, i = [], 0
    for start, body_start, body_end, end in regs:
        parts.append(text[i:start])
        if _is_comment(text, start):
            parts.append(_NOT_NEWLINE.sub(" ", text[start:end]))
        else:
            parts.append(text[start:body_start])
            parts.append(" " * (body_end - body_start))
            parts.append(text[body_end:end])
        i = end
    parts.append(text[i:])
    return "".join(parts)


def _is_comment(text: str, start: int) -> bool:
    """Whether the region at `start` is a comment (a hint is not)."""
    return text.startswith("--", start) or (
        text.startswith("/*", start) and not text.startswith("/*+", start)
    )


def strip_comments(text: str) -> str:
    """`text` with every comment replaced by one space; hints stay."""
    out, i = [], 0
    for start, _, _, end in regions(text):
        if _is_comment(text, start):
            out.append(text[i:start] + " ")
            i = end
    out.append(text[i:])
    return "".join(out)


def split_comments(text: str) -> tuple[str, str, str]:
    """(leading, body, trailing): the comments and whitespace before and
    after the statement split off. Hints stay in the body."""
    regs = regions(text)
    lo, k = 0, 0
    while True:
        lo = len(text) - len(text[lo:].lstrip())
        r = regs[k] if k < len(regs) else None
        if r and r[0] == lo and _is_comment(text, r[0]):
            lo = r[3]
            k += 1
        else:
            break
    hi, k = len(text), len(regs) - 1
    while hi > lo:
        hi = len(text[:hi].rstrip())
        r = regs[k] if k >= 0 else None
        if r and r[3] == hi and r[0] >= lo and _is_comment(text, r[0]):
            hi = r[0]
            k -= 1
        else:
            break
    hi = max(hi, lo)
    return text[:lo], text[lo:hi], text[hi:]


class Match:
    """A match found on mask(text), read back from the original text."""

    __slots__ = ("_m", "_text")

    def __init__(self, m: re.Match, text: str):
        self._m = m
        self._text = text

    def group(self, g=0):
        start = self._m.start(g)
        return None if start < 0 else self._text[start : self._m.end(g)]

    def start(self, g=0):
        return self._m.start(g)

    def end(self, g=0):
        return self._m.end(g)


def finditer(pattern, text: str, pos: int = 0):
    """re.finditer over the mask; matches read the original text."""
    for m in re.compile(pattern).finditer(mask(text), pos):
        yield Match(m, text)


def search(pattern, text: str, pos: int = 0) -> Match | None:
    return next(finditer(pattern, text, pos), None)


def sub(pattern, repl, text: str) -> str:
    """re.sub over the mask with a callable `repl(Match) -> str`; the
    text between matches is copied from the original."""
    out, i = [], 0
    for m in finditer(pattern, text):
        out.append(text[i : m.start()])
        out.append(repl(m))
        i = m.end()
    out.append(text[i:])
    return "".join(out)


def balanced_span(text: str, start: int, close: str = ")") -> tuple[str, int]:
    """(inner text, index of the closing bracket) for the bracket
    opened just before `start`; `close` is ")" or "]"."""
    depth = 1
    for m in _BRACKETS[close].finditer(mask(text), start):
        depth += -1 if m.group() == close else 1
        if depth == 0:
            return text[start : m.start()], m.start()
    raise ValueError(f"unbalanced brackets in {text!r}")


def split_top_level(text: str) -> list[str]:
    """Stripped parts of `text` split on commas at paren depth 0; blank
    text gives []."""
    if not text.strip():
        return []
    parts, depth, last = [], 0, 0
    for m in _TOP_COMMA.finditer(mask(text)):
        ch = m.group()
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            parts.append(text[last : m.start()].strip())
            last = m.end()
    parts.append(text[last:].strip())
    return parts


def iter_top_level(text: str, word: str):
    """Indices of the whole-word, case-insensitive matches of the regex
    `word` at paren depth 0 (depth counted from the start of `text`)."""
    depth = 0
    for m in re.finditer(rf"[()]|\b(?:{word})\b", mask(text), re.I):
        ch = m.group()
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            yield m.start()


def find_top_level(text: str, word: str, start: int = 0) -> int:
    """The first of iter_top_level at or after `start`, or -1."""
    return next((i for i in iter_top_level(text, word) if i >= start), -1)
