"""govaluate-style condition -> Spark SQL boolean expression.

The reference's cond filter/output evaluate a govaluate expression per
event (reference filter/cond/filtercond.go:112-178, built-ins
empty/strlen/map/rand at :24-71; output/cond/outputcond.go:42-115).
Here the expression is translated ONCE at plan time into a native SQL
boolean, so routing predicates stay inside Catalyst (pushdown, codegen)
instead of per-row Python.

Supported surface (the subset the reference's configs use):
  literals   'str' "str" 123 1.5 true false
  identifiers  a, a.b (nested)
  unary      ! -
  binary     == != >= <= > < + - * / % && ||
  regex      =~ !~          -> RLIKE
  membership x IN ('a','b') -> SQL IN;   'x' IN arrfield -> array_contains
  functions  empty(x) strlen(x) rand()
"""

from __future__ import annotations

import re

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<num>\d+(?:\.\d+)?)
      | (?P<str>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
      | (?P<op>\|\||&&|==|!=|>=|<=|=~|!~|[()!<>+\-*/%,])
      | (?P<word>[A-Za-z_][A-Za-z0-9_.\[\]]*)
    )""",
    re.VERBOSE,
)

_BOOL = {"true": "TRUE", "false": "FALSE"}
_CMP = {"==": "=", "!=": "<>", ">=": ">=", "<=": "<=", ">": ">", "<": "<"}


class CondError(ValueError):
    pass


def _tokenize(expr: str) -> list[str]:
    toks: list[str] = []
    pos = 0
    while pos < len(expr):
        m = _TOKEN_RE.match(expr, pos)
        if not m or m.end() == pos:
            rest = expr[pos:].strip()
            if not rest:
                break
            raise CondError("cannot tokenize %r at %r" % (expr, rest[:20]))
        toks.append(m.group(m.lastgroup))
        pos = m.end()
    return toks


def sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal. The SQL lexer reads a backslash
    as an escape, so both `\\` and `'` are backslash-escaped."""
    return "'%s'" % s.replace("\\", "\\\\").replace("'", "\\'")


def _unquote(tok: str) -> str:
    """The body of a quoted condition token."""
    return tok[1:-1].replace("\\'", "'").replace('\\"', '"').replace("\\\\", "\\")


class _Parser:
    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self) -> str:
        tok = self.peek()
        if tok is None:
            raise CondError("unexpected end of expression")
        self.i += 1
        return tok

    def expect(self, tok: str) -> None:
        got = self.take()
        if got != tok:
            raise CondError("expected %r got %r" % (tok, got))

    # precedence climbing ------------------------------------------------
    def parse(self) -> str:
        out = self.or_expr()
        if self.peek() is not None:
            raise CondError("trailing tokens: %r" % self.toks[self.i :])
        return out

    def or_expr(self) -> str:
        left = self.and_expr()
        while self.peek() == "||":
            self.take()
            left = "(%s OR %s)" % (left, self.and_expr())
        return left

    def and_expr(self) -> str:
        left = self.cmp_expr()
        while self.peek() == "&&":
            self.take()
            left = "(%s AND %s)" % (left, self.cmp_expr())
        return left

    def cmp_expr(self) -> str:
        left = self.add_expr()
        tok = self.peek()
        if tok in _CMP:
            self.take()
            return "(%s %s %s)" % (left, _CMP[tok], self.add_expr())
        if tok == "=~":
            self.take()
            return "(%s RLIKE %s)" % (left, self.add_expr())
        if tok == "!~":
            self.take()
            return "(NOT %s RLIKE %s)" % (left, self.add_expr())
        if tok is not None and tok.upper() == "IN" and tok not in ("(",):
            self.take()
            if self.peek() == "(":
                self.take()
                items = [self.add_expr()]
                while self.peek() == ",":
                    self.take()
                    items.append(self.add_expr())
                self.expect(")")
                return "(%s IN (%s))" % (left, ", ".join(items))
            right = self.add_expr()
            return "array_contains(%s, %s)" % (right, left)
        return left

    def add_expr(self) -> str:
        left = self.mul_expr()
        while self.peek() in ("+", "-"):
            op = self.take()
            left = "(%s %s %s)" % (left, op, self.mul_expr())
        return left

    def mul_expr(self) -> str:
        left = self.unary()
        while self.peek() in ("*", "/", "%"):
            op = self.take()
            left = "(%s %s %s)" % (left, op, self.unary())
        return left

    def unary(self) -> str:
        tok = self.peek()
        if tok == "!":
            self.take()
            return "(NOT %s)" % self.unary()
        if tok == "-":
            self.take()
            return "(- %s)" % self.unary()
        return self.primary()

    def primary(self) -> str:
        tok = self.take()
        if tok == "(":
            inner = self.or_expr()
            self.expect(")")
            return "(%s)" % inner
        if tok[0] in "'\"":
            return sql_str(_unquote(tok))
        if tok[0].isdigit():
            return tok
        if tok.lower() in _BOOL:
            return _BOOL[tok.lower()]
        # function call?
        if self.peek() == "(":
            self.take()
            args: list[str] = []
            if self.peek() != ")":
                args.append(self.or_expr())
                while self.peek() == ",":
                    self.take()
                    args.append(self.or_expr())
            self.expect(")")
            return self._func(tok, args)
        # identifier (possibly dotted nested access)
        return tok

    @staticmethod
    def _func(name: str, args: list[str]) -> str:
        n = name.lower()
        if n == "empty":
            return "(%s IS NULL OR CAST(%s AS STRING) = '')" % (args[0], args[0])
        if n == "strlen":
            return "length(%s)" % args[0]
        if n == "rand":
            return "rand()"
        if n == "map":
            # reference built-in map("a.b") resolves a nested event path
            # (filtercond.go:24-71); dotted identifiers are already
            # native nested access here, so unquote to an identifier
            a = args[0]
            if len(a) >= 2 and a[0] == "'" and a[-1] == "'":
                return a[1:-1]
            return a
        raise CondError("unsupported function %s()" % name)


def cond_to_sql(expr: str) -> str:
    """Translate a govaluate-style condition to a Spark SQL boolean string."""
    return _Parser(_tokenize(expr)).parse()
