"""One lexical rule for every scan over Redshift SQL text.

Statement splitting, dispatch (COPY/UNLOAD, EXECUTE, procedures,
UPDATE ... FROM) and the dialect shim all ask the same question —
"is this position code, or inside a literal or comment?" — and this
module is the only place that answers it.

The rule: these spans are opaque, and everything outside them is code.

- ``'...'`` and ``"..."``; a doubled quote (``''`` / ``""``) inside is
  an escaped quote. Backslash is an ordinary character.
- ``$$...$$`` and ``$tag$...$tag$`` dollar-quoted blocks. A tag is an
  identifier, so it cannot start with a digit: ``$1`` is a placeholder.
- ``--`` comments, to the end of the line.
- ``/* ... */`` comments, which nest.

An unterminated literal or comment runs to the end of the text. Paren
depth counts ``(`` and ``)`` in code only; a ``(`` sits at the depth
outside it, a ``)`` at the depth inside it.
"""

from __future__ import annotations

import functools
import re
from bisect import bisect_right

DOLLAR_TAG_RE = re.compile(r"\$(?:[A-Za-z_][A-Za-z0-9_]*)?\$")
_COMMA_RE = re.compile(",")
_SEMI_RE = re.compile(";")
_EVENT_RE = re.compile(r"""[()'"]|--|/\*|""" + DOLLAR_TAG_RE.pattern)
_BLOCK_RE = re.compile(r"/\*|\*/")
_BLANK_RE = re.compile(r"\s*")
_COMMENT_OPENERS = ("--", "/*")


def skip(text: str, i: int) -> int:
    """Index just past the literal or comment that opens at ``i``, or
    ``i`` itself when none opens there."""
    q = text[i : i + 1]
    if q in ("'", '"'):
        j = i
        while True:
            j = text.find(q, j + 1)
            if j < 0:
                return len(text)
            if not text.startswith(q, j + 1):
                return j + 1
            j += 1
    if text.startswith("--", i):
        j = text.find("\n", i)
        return len(text) if j < 0 else j
    if text.startswith("/*", i):
        depth = 0
        for m in _BLOCK_RE.finditer(text, i):
            depth += 1 if m.group() == "/*" else -1
            if not depth:
                return m.end()
        return len(text)
    m = DOLLAR_TAG_RE.match(text, i)
    if m:
        j = text.find(m.group(), m.end())
        return len(text) if j < 0 else j + len(m.group())
    return i


def skip_blank(text: str, i: int) -> int:
    """Index of the first character at or after ``i`` that is neither
    whitespace nor inside a comment."""
    while True:
        i = _BLANK_RE.match(text, i).end()
        if not text.startswith(_COMMENT_OPENERS, i):
            return i
        i = skip(text, i)


@functools.lru_cache(maxsize=32)
def _runs(text: str) -> tuple[tuple[int, ...], tuple[int | None, ...]]:
    """Run starts and their paren depth (None inside a literal or
    comment); run k covers ``text[starts[k]:starts[k + 1]]``. Cached,
    so a parser stepping through one text statement by statement lexes
    it once."""
    starts: list[int] = [0]
    levels: list[int | None] = [0]
    depth = i = 0
    while m := _EVENT_RE.search(text, i):
        p = m.start()
        if m.group() == "(":
            depth, i = depth + 1, p + 1
        elif m.group() == ")":
            depth, i = depth - 1, p + 1
        else:
            starts.append(p)
            levels.append(None)
            i = skip(text, p)
        starts.append(i)
        levels.append(depth)
    return tuple(starts), tuple(levels)


def finditer(text: str, pattern: re.Pattern, pos: int = 0, *, top: bool = True):
    """``pattern`` matches from ``pos`` that start in code — at paren
    depth 0 when ``top``. The text is lexed only once a match turns up."""
    runs = None
    for m in pattern.finditer(text, pos):
        starts, levels = runs = runs or _runs(text)
        level = levels[bisect_right(starts, m.start()) - 1]
        if level == 0 if top else level is not None:
            yield m


def find(text: str, pattern: re.Pattern, pos: int = 0, *, top: bool = True):
    """The first :func:`finditer` match, or None."""
    return next(finditer(text, pattern, pos, top=top), None)


def sub(pattern: re.Pattern, repl, text: str) -> str:
    """``pattern.sub(repl, text)`` that rewrites code only: a match
    starting inside a literal or comment stays verbatim."""
    out, pos = [], 0
    for m in finditer(text, pattern, top=False):
        out += (text[pos : m.start()], repl(m) if callable(repl) else m.expand(repl))
        pos = m.end()
    return "".join(out) + text[pos:] if out else text


def split(text: str, sep: re.Pattern = _COMMA_RE) -> list[str]:
    """``text`` split at each depth-0 ``sep``; pieces are stripped, and
    blank text has none."""
    if not text.strip():
        return []
    out, pos = [], 0
    for m in finditer(text, sep):
        out.append(text[pos : m.start()].strip())
        pos = m.end()
    out.append(text[pos:].strip())
    return out


def close_paren(text: str, i: int) -> int | None:
    """Index of the ``)`` that closes the code ``(`` at ``i``; None when
    it never closes."""
    starts, levels = _runs(text)
    k = bisect_right(starts, i) - 1
    outer = levels[k]
    for k in range(k + 1, len(starts)):
        if levels[k] is not None and levels[k] <= outer:
            return starts[k] - 1
    return None


def statement(text: str, i: int) -> tuple[str, int]:
    """The statement from ``i`` to the next ``;`` in code, stripped, and
    the index past that ``;`` (the last statement may omit it)."""
    m = find(text, _SEMI_RE, i, top=False)
    if m is None:
        return text[i:].strip(), len(text)
    return text[i : m.start()].strip(), m.end()


def code_span(text: str) -> tuple[int, int]:
    """``(start, end)`` of the code in ``text``: before ``start`` and
    from ``end`` on there are only blanks and comments."""
    start = skip_blank(text, 0)
    starts, levels = _runs(text)
    for k in range(len(starts) - 1, -1, -1):
        a = starts[k]
        if levels[k] is None and text.startswith(_COMMENT_OPENERS, a):
            continue
        b = starts[k + 1] if k + 1 < len(starts) else len(text)
        code = text[a:b].rstrip()
        if code:
            return start, max(start, a + len(code))
    return start, start
