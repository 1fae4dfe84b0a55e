"""The lake front end's one SQL lexer.

It follows Spark SQL's lexical rules as the lake's sessions configure them
(``spark.sql.ansi.doubleQuotedIdentifiers`` is never set):

* ``'…'`` and ``"…"`` are string literals: a backslash escapes the next
  character, and a doubled quote stands for one quote;
* ``R'…'`` / ``R"…"`` is a raw literal: no escapes, it ends at the first
  matching quote;
* a name in backticks is an identifier, with a doubled backtick as its
  escape;
* ``--`` starts a comment that runs to the end of the line (a backslash
  right before the newline continues it); ``/* */`` comments nest, and
  ``/*+`` opens a hint, which is SQL rather than a comment.

:func:`tokens` tiles its input exactly, and an unterminated literal,
identifier or comment runs to the end of the input. Each token carries its
span and its bracket depth (a ``;`` closes every bracket, as it ends a
statement), so every splitter below works on tokens and none of them scans
quotes itself.
"""

from __future__ import annotations

import functools
import re
from typing import NamedTuple, Optional

_TOKEN = re.compile(
    r"(?P<ws>\s+)"
    r"|(?P<comment>--(?:\\\n|[^\r\n])*|/\*(?!\+))"
    r"|(?P<str>[Rr]'[^']*'?|[Rr]\"[^\"]*\"?"
    r"|'(?:[^'\\]+|\\.|'')*'?|\"(?:[^\"\\]+|\\.|\"\")*\"?)"
    r"|(?P<ident>`(?:[^`]+|``)*`?)"
    r"|(?P<word>\w+)"
    r"|(?P<op>.)",
    re.S,
)
_BLOCK = re.compile(r"/\*|\*/")
# tokens whose text is data or a name, never SQL to match keywords in
_QUOTED = ("str", "ident", "comment")


class Token(NamedTuple):
    kind: str  # ws | comment | str | ident | word | op
    text: str
    start: int
    end: int
    depth: int  # brackets open around it; a bracket pair shares its depth


@functools.lru_cache(maxsize=16)
def tokens(text: str) -> tuple:
    """The tokens of ``text``. A few texts stay cached: the rewrite passes
    over one statement lex the same text again and again."""
    out, depth, pos, n = [], 0, 0, len(text)
    new = tuple.__new__  # a third faster than calling Token(...)
    while pos < n:
        for m in _TOKEN.finditer(text, pos):
            kind, (i, end), d = m.lastgroup, m.span(), depth
            if kind == "op":
                ch = text[i]
                if ch in "([{":
                    depth += 1
                elif ch in ")]}":
                    depth = d = depth - 1
                elif ch == ";":
                    depth = d = 0
            elif kind == "comment" and text[i + 1] == "*":
                nest, pos = 0, n
                for b in _BLOCK.finditer(text, i):
                    nest += 1 if b.group() == "/*" else -1
                    if nest == 0:
                        pos = b.end()
                        break
                out.append(new(Token, (kind, text[i:pos], i, pos, d)))
                break  # lex on after the comment
            out.append(new(Token, (kind, m.group(), i, end, d)))
        else:
            break
    return tuple(out)


def strip(sql: str) -> str:
    """The statement with comments turned into spaces, and without outer
    whitespace or trailing semicolons."""
    toks = tokens(sql)
    k = len(toks)
    while k and (
        toks[k - 1].kind in ("ws", "comment") or toks[k - 1].text == ";"
    ):
        k -= 1
    return "".join(
        " " if t.kind == "comment" else t.text for t in toks[:k]
    ).strip()


def split_top(text: str, sep: str = ",") -> list:
    """The pieces of ``text`` between its top-level ``sep`` tokens (a
    keyword separator such as ``AND`` matches in any case), unstripped:
    joining them with ``sep`` gives ``text`` back."""
    sep = sep.upper()
    out, prev = [], 0
    for t in tokens(text):
        if t.depth == 0 and t.kind in ("op", "word") and t.text.upper() == sep:
            out.append(text[prev:t.start])
            prev = t.end
    out.append(text[prev:])
    return out


def items(text: str, sep: str = ",") -> list:
    """:func:`split_top`'s pieces stripped, with an empty last piece (a
    trailing separator, or blank text) dropped."""
    out = [p.strip() for p in split_top(text, sep)]
    return out[:-1] if out[-1] == "" else out


def statements(script: str) -> list:
    """The non-empty ``;``-separated statements of a script."""
    return [s for s in items(script, ";") if s]


def top_words(text: str, word: str) -> list:
    """Start offsets of the top-level occurrences of the keyword ``word``."""
    w = word.upper()
    return [
        t.start
        for t in tokens(text)
        if t.depth == 0 and t.kind == "word" and t.text.upper() == w
    ]


def match_paren(text: str, i: int) -> int:
    """Offset of the bracket closing the one at ``text[i]``, or -1."""
    for t in tokens(text[i:])[1:]:
        if t.depth == 0 and t.kind == "op" and t.text in ")]}":
            return i + t.start
    return -1


def unwrap_parens(text: str) -> str:
    """``text`` without redundant outer parens: ``(t.id = s.id)`` becomes
    ``t.id = s.id``; ``(a) = (b)`` stays as it is."""
    s = text.strip()
    while s.startswith("(") and match_paren(s, 0) == len(s) - 1:
        s = s[1:-1].strip()
    return s


def map_code(text: str, fn, literal_fn=None) -> str:
    """``fn`` applied to each run of SQL between string literals, quoted
    identifiers and comments; literals go through ``literal_fn`` (verbatim
    without one), identifiers and comments stay verbatim."""
    out, run = [], []
    for t in tokens(text):
        if t.kind in _QUOTED:
            if run:
                out.append(fn("".join(run)))
                run = []
            lit = literal_fn and t.kind == "str"
            out.append(literal_fn(t.text) if lit else t.text)
        else:
            run.append(t.text)
    if run:
        out.append(fn("".join(run)))
    return "".join(out)


def strip_sql_literals(text: str) -> str:
    """``text`` with every string literal replaced by an empty ``''``, so
    substring and identifier scans never match a literal's content."""
    return map_code(text, lambda s: s, literal_fn=lambda _s: "''")


def search_code(pat, text: str, pos: int = 0):
    """The first match of ``pat`` at or after ``pos`` that starts outside
    literals, quoted identifiers and comments (it may run on into one: a
    clause's payload can hold a literal)."""
    quoted = [(t.start, t.end) for t in tokens(text) if t.kind in _QUOTED]
    while True:
        m = pat.search(text, pos)
        if m is None or not any(a <= m.start() < b for a, b in quoted):
            return m
        # resume just past the rejected match's start, not its end: a greedy
        # match inside a literal can swallow a real match after it
        pos = m.start() + 1


def sub_code(pat, repl, text: str) -> str:
    """``pat.sub(repl, text)`` over the matches :func:`search_code` finds."""
    out, i = [], 0
    while (m := search_code(pat, text, i)) is not None:
        out += [text[i:m.start()], repl(m)]
        i = m.end()
    out.append(text[i:])
    return "".join(out)


def bq(name: str) -> str:
    """``name`` as a backticked identifier."""
    return "`" + name.replace("`", "``") + "`"


class Ref(NamedTuple):
    start: int  # of the qualifier, when there is one
    name_start: int
    end: int
    name: str  # unquoted
    qual: Optional[str]


def token_name(t: Token) -> Optional[str]:
    """The name a word or backticked-identifier token spells, unquoted; None
    for any other token."""
    if t.kind == "word" and not t.text[0].isdigit():
        return t.text
    if t.kind == "ident" and len(t.text) > 1 and t.text.endswith("`"):
        return t.text[1:-1].replace("``", "`")
    return None


def names(text: str) -> Optional[list]:
    """The unquoted names of a comma-separated name list (``a, `b c```), or
    None when it is empty or an item is not one name."""
    out = []
    for item in items(text):
        sig = [t for t in tokens(item) if t.kind not in ("ws", "comment")]
        name = token_name(sig[0]) if len(sig) == 1 else None
        if name is None:
            return None
        out.append(name)
    return out or None


def column_refs(text: str) -> list:
    """The column-like references in one SQL expression: a name, or a
    qualified ``q.c``. A name followed by ``(`` is a function and a name
    after a ``.`` is a field, so neither is a reference; keywords are, and
    callers that care filter them."""
    sig = [t for t in tokens(text) if t.kind not in ("ws", "comment")]
    out, k = [], 0
    while k < len(sig):
        first, name = sig[k], token_name(sig[k])
        if name is None or (k and sig[k - 1].text == "."):
            k += 1
            continue
        last, qual = first, None
        if k + 2 < len(sig) and sig[k + 1].text == "." and token_name(sig[k + 2]):
            last, qual, name = sig[k + 2], name, token_name(sig[k + 2])
            k += 2
        k += 1
        if k < len(sig) and sig[k].text == "(":
            continue
        out.append(Ref(first.start, last.start, last.end, name, qual))
    return out


def assignment(text: str):
    """``[q.]name = expr`` as ``(q, name, expr)`` with the names unquoted,
    or None when ``text`` is not one assignment."""
    refs = column_refs(text)
    lead = len(text) - len(text.lstrip())
    if not refs or refs[0].start != lead:
        return None
    m = re.match(r"\s*=(?![=>])\s*(\S.*)$", text[refs[0].end:], re.S)
    return (refs[0].qual, refs[0].name, m.group(1).rstrip()) if m else None


def rewrite_sql_identifiers(text: str, mapping: dict) -> str:
    """Replace column references per ``mapping`` (case-insensitive keys),
    leaving literals, function names and qualifiers alone; a backticked
    reference stays backticked."""
    low = {k.lower(): v for k, v in mapping.items()}
    out, prev = [], 0
    for r in column_refs(text):
        rep = low.get(r.name.lower())
        if rep is not None:
            quoted = text[r.end - 1] == "`"
            out += [text[prev:r.name_start], bq(rep) if quoted else rep]
            prev = r.end
    out.append(text[prev:])
    return "".join(out)
