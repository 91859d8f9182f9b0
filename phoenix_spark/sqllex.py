"""One lexer for the Phoenix SQL dialect.

Phoenix reads its dialect with one grammar (reference:
phoenix-core-client/src/main/antlr3/PhoenixSQL.g).  This module is the front
end's single scanner: every module that needs to know where a string literal,
a quoted identifier, a comment or a bracket group begins and ends asks here,
so they cannot disagree about it.

``tokens`` lexes a statement once into string literals ('...' with ''
escapes), quoted identifiers ("..." with "" escapes), ``--`` and ``/* */``
comments, ``\\x00N\\x00`` mask markers, numbers, bare words, brackets and
operators; whitespace only separates tokens.  Each token carries its
``(``/``[`` depth; both brackets of a pair carry the depth of the text
around them, so an unmatched close bracket has depth -1.  The primitives
built on it:

  * ``segments``           — (kind, text) runs: code / string / ident / comment
  * ``mask`` / ``unmask``   — hide literals, quoted identifiers and comments
    behind ``\\x00N\\x00`` markers, and restore them
  * ``code_start``         — where the first code token begins
  * ``split_top``          — split at a depth-0 ``,``/``;``/keyword
  * ``iter_top``/``find_top`` — depth-0 pattern matches, stopping at an
    unmatched close bracket
  * ``match_forward``/``match_backward`` — bracket matching

Splitting returns raw items (``sep.join(items) == text`` for punctuation
separators); callers strip or drop empty items themselves.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Iterator, NamedTuple


class Tok(NamedTuple):
    kind: str  # string ident comment mask number word open close op
    text: str
    start: int
    end: int
    depth: int


# An unterminated literal or block comment runs to the end of the text, as
# the grammar's lexer would read it: nothing after it can be a separator.
_HIDDEN_PATTERN = r"""
      (?P<string>'(?:[^']|'')*(?:'|\Z))
    | (?P<ident>"(?:[^"]|"")*(?:"|\Z))
    | (?P<comment>--[^\n]*|/\*.*?(?:\*/|\Z))
"""
# No other token can hold a quote, "--" or "/*", so scanning for these three
# alone (segments, mask) finds the same tokens as the full lexer.
_HIDDEN_RE = re.compile(_HIDDEN_PATTERN, re.DOTALL | re.VERBOSE)
_TOKEN_RE = re.compile(
    _HIDDEN_PATTERN
    + r"""
    | (?P<mask>\x00\d+\x00)
    | (?P<number>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?
                |\d+(?:[eE][+-]?\d+)?)
    | (?P<word>[A-Za-z_]\w*)
    | \s+
    | (?P<open>[(\[])
    | (?P<close>[)\]])
    | (?P<op>\|\||<=>|<=|>=|<>|!=|::|.)
    """,
    re.DOTALL | re.VERBOSE,
)

_HIDDEN = frozenset({"string", "ident", "comment"})
_MARK_RE = re.compile(r"\x00(\d+)\x00")


@lru_cache(maxsize=512)
def tokens(text: str) -> tuple[Tok, ...]:
    """Every token of ``text`` but whitespace, in order."""
    out = []
    depth = 0
    for m in _TOKEN_RE.finditer(text):
        kind = m.lastgroup
        if kind is None:
            continue
        if kind == "close":
            depth -= 1
        out.append(Tok(kind, m.group(), m.start(), m.end(), depth))
        if kind == "open":
            depth += 1
    return tuple(out)


def segments(sql: str) -> list[tuple[str, str]]:
    """Partition ``sql`` into (kind, text) runs, kind in {code, string,
    ident, comment}; the texts concatenate back to ``sql``."""
    out: list[tuple[str, str]] = []
    pos = 0
    for m in _HIDDEN_RE.finditer(sql):
        if m.start() > pos:
            out.append(("code", sql[pos : m.start()]))
        out.append((m.lastgroup, m.group()))
        pos = m.end()
    if pos < len(sql):
        out.append(("code", sql[pos:]))
    return out


def mask(text: str) -> tuple[str, list[str]]:
    """Replace each string literal, quoted identifier and comment with
    ``\\x00N\\x00``; ``stash[N]`` holds its text.  Regex rewrites over the
    masked text can then never fire inside one."""
    stash: list[str] = []
    parts: list[str] = []
    pos = 0
    for m in _HIDDEN_RE.finditer(text):
        parts.append(text[pos : m.start()])
        parts.append(f"\x00{len(stash)}\x00")
        stash.append(m.group())
        pos = m.end()
    parts.append(text[pos:])
    return "".join(parts), stash


def unmask(text: str, stash: list[str]) -> str:
    """Put ``stash[N]`` back in place of each ``\\x00N\\x00`` marker."""
    return _MARK_RE.sub(lambda m: stash[int(m.group(1))], text)


def code_start(text: str) -> int:
    """Index of the first token that is neither whitespace nor a comment
    (``len(text)`` when there is none).  Lexes lazily: only the leading
    comments are read."""
    for m in _TOKEN_RE.finditer(text):
        if m.lastgroup not in (None, "comment"):
            return m.start()
    return len(text)


def split_top(text: str, sep: str) -> list[str]:
    """Split ``text`` at every ``sep`` (``,``, ``;``, ``=`` or a keyword such
    as ``AND``) outside brackets, literals and comments.  Items are raw, so
    ``sep.join(items) == text`` for punctuation separators."""
    sep = sep.upper()
    parts, last = [], 0
    for t in tokens(text):
        # a literal's, identifier's or comment's text keeps its delimiters,
        # so it never equals a separator
        if t.depth == 0 and t.text.upper() == sep:
            parts.append(text[last : t.start])
            last = t.end
    parts.append(text[last:])
    return parts


def iter_top(
    text: str, pattern: re.Pattern, start: int = 0
) -> Iterator[re.Match]:
    """Matches of ``pattern`` that begin at a code token at bracket depth 0
    (relative to ``start``), in order; the scan ends at the first unmatched
    close bracket."""
    last_end = start
    for t in tokens(text[start:]):
        if t.depth < 0:
            return
        pos = start + t.start
        if t.depth == 0 and t.kind not in _HIDDEN and pos >= last_end:
            m = pattern.match(text, pos)
            if m:
                last_end = m.end()
                yield m


def find_top(text: str, pattern: re.Pattern, start: int = 0) -> int:
    """Index of the first depth-0 match of ``pattern`` at or after
    ``start``, else of the first unmatched close bracket, else ``len(text)``
    — the end of the clause that begins at ``start``."""
    for t in tokens(text[start:]):
        pos = start + t.start
        if t.depth < 0 or (
            t.depth == 0 and t.kind not in _HIDDEN and pattern.match(text, pos)
        ):
            return pos
    return len(text)


def match_forward(text: str, start: int) -> int:
    """Index just past the bracket that closes the group open before
    ``start``; ``len(text) + 1`` when it never closes, as if it closed just
    past the end."""
    for t in tokens(text[start:]):
        if t.depth < 0:
            return start + t.end
    return len(text) + 1


def match_backward(text: str, end: int) -> int:
    """Index of the open bracket paired with the close bracket that ends at
    ``end`` (-1 when it has none)."""
    toks = tokens(text[:end])
    close = toks[-1]
    for t in reversed(toks[:-1]):
        if t.depth == close.depth and t.kind == "open":
            return t.start
    return -1
