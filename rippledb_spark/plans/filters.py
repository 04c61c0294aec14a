"""SPARQL FILTER and value expressions (engine-tier superset, spec §17).

The reference's query surface has no FILTER (src/rdf/query.rs:27-63 is
conjunctive BGP only), and the engine's builder answer so far was "call
``.filter`` on the returned DataFrame" (the bgp_filter_name_pattern query).
That works for the library surface but not the text frontend — a query
STRING with ``FILTER(...)`` had to be rewritten by hand. This module closes
that gap with an expression AST + parser + Column lowering:

    filter  := or
    or      := and ('||' and)*
    and     := unary ('&&' unary)*
    unary   := '!' unary | fprimary
    fprimary:= REGEX(?var, "pattern" [, "flags"])   -- partial match, rlike
             | BOUND(?var)                          -- OPTIONAL null probe
             | value cmp value                      -- cmp ∈ = != < > <= >=
             | '(' filter ')'
    value   := product (('+' | '-') product)*       -- BIND/operand grammar
    product := vprimary (('*' | '/') vprimary)*
    vprimary:= ?var | "string" | number | bare-word (resolved as a term)
             | CONCAT(value, ...) | STR(value) | STRLEN(value)
             | UCASE(value) | LCASE(value) | SUBSTR(value, start [, len])
             | IF(filter, value, value) | '(' value ')'

Typing rules (the engine stores all node values as strings): arithmetic
and STRLEN produce numbers; a comparison with a numeric side try_casts
the other side to double — a value that does not parse as a number
becomes NULL, and Spark's filter drops NULL rows, which matches SPARQL's
type-error semantics (an erroring FILTER eliminates the solution, §17.2).
All-string comparisons are lexicographic (codepoint order, the
engine-wide convention). ``REGEX`` lowers to ``rlike`` (both are
partial-match); only the ``i`` flag is supported. ``SUBSTR`` is 1-based
with an inclusive length, the SPARQL (and Spark) convention.

Scale shape: lowering produces ordinary Catalyst expressions over the
bound-variable columns, so FILTER/BIND cost nothing beyond the
computation itself — predicates push through joins / into scans exactly
like a hand-written ``DataFrame.filter``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column

from rippledb_spark.errors import QueryError
from rippledb_spark.sources.rdfio import _unescape_nt


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class FVar:
    name: str  # without the leading '?'/'$'


@dataclass(frozen=True)
class FStr:
    value: str


@dataclass(frozen=True)
class FNum:
    value: float


@dataclass(frozen=True)
class VArith:
    op: str  # '+', '-', '*', '/'
    left: "ValueExpr"
    right: "ValueExpr"


@dataclass(frozen=True)
class VFunc:
    name: str  # 'concat', 'str', 'strlen', 'ucase', 'lcase', 'substr'
    args: tuple


@dataclass(frozen=True)
class VIf:
    cond: "FilterExpr"
    then: "ValueExpr"
    other: "ValueExpr"


@dataclass(frozen=True)
class FCmp:
    op: str  # '=', '!=', '<', '>', '<=', '>='
    left: "ValueExpr"
    right: "ValueExpr"


@dataclass(frozen=True)
class FRegex:
    var: FVar
    pattern: str
    flags: str = ""


@dataclass(frozen=True)
class FBound:
    var: FVar


@dataclass(frozen=True)
class FStrPred:
    """Two-argument string predicate: STRSTARTS / STRENDS / CONTAINS
    (SPARQL §17.4.3.5-7) over arbitrary value expressions."""

    name: str  # 'strstarts' | 'strends' | 'contains'
    left: "ValueExpr"
    right: "ValueExpr"


@dataclass(frozen=True)
class FNot:
    inner: "FilterExpr"


@dataclass(frozen=True)
class FAnd:
    left: "FilterExpr"
    right: "FilterExpr"


@dataclass(frozen=True)
class FOr:
    left: "FilterExpr"
    right: "FilterExpr"


ValueExpr = FVar | FStr | FNum | VArith | VFunc | VIf
FilterExpr = FCmp | FRegex | FBound | FStrPred | FNot | FAnd | FOr

_CMP_OPS = ("<=", ">=", "!=", "=", "<", ">")
_ARITH_ADD = ("+", "-")
_ARITH_MUL = ("*", "/")
_VALUE_FUNCS = (
    "CONCAT", "STR", "STRLEN", "UCASE", "LCASE", "SUBSTR", "IF",
    # r6 additions: spec §17.4 string/numeric builtins + XPath casts
    "COALESCE", "ABS", "ROUND", "CEIL", "FLOOR",
    "STRBEFORE", "STRAFTER", "REPLACE",
    "XSD:INTEGER", "XSD:DECIMAL", "XSD:DOUBLE", "XSD:FLOAT",
    "XSD:STRING", "XSD:BOOLEAN",
    "MD5", "SHA256",  # §17.4.4 hash functions (hex-lowercase both engines)
)
_STR_PREDS = ("STRSTARTS", "STRENDS", "CONTAINS")
_NUM_RE = re.compile(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")


def filter_vars(expr) -> set[str]:
    """Every variable name the (filter or value) expression references."""
    if isinstance(expr, FVar):
        return {expr.name}
    if isinstance(expr, (FStr, FNum)):
        return set()
    if isinstance(expr, (FCmp, VArith)):
        return filter_vars(expr.left) | filter_vars(expr.right)
    if isinstance(expr, VFunc):
        out: set[str] = set()
        for a in expr.args:
            out |= filter_vars(a)
        return out
    if isinstance(expr, VIf):
        return filter_vars(expr.cond) | filter_vars(expr.then) | filter_vars(expr.other)
    if isinstance(expr, (FRegex, FBound)):
        return {expr.var.name}
    if isinstance(expr, FStrPred):
        return filter_vars(expr.left) | filter_vars(expr.right)
    if isinstance(expr, FNot):
        return filter_vars(expr.inner)
    if isinstance(expr, (FAnd, FOr)):
        return filter_vars(expr.left) | filter_vars(expr.right)
    raise QueryError(f"unknown filter expression {expr!r}")


# ---------------------------------------------------------------------------
# Lowering
# ---------------------------------------------------------------------------


_NUMERIC_FUNCS = {
    "strlen", "abs", "round", "ceil", "floor",
    "xsd:integer", "xsd:decimal", "xsd:double", "xsd:float",
}


def _is_numeric(expr) -> bool:
    return isinstance(expr, (FNum, VArith)) or (
        isinstance(expr, VFunc) and expr.name in _NUMERIC_FUNCS
    )


def value_to_column(expr: ValueExpr) -> Column:
    """Lower a value expression to a Spark Column."""
    if isinstance(expr, FVar):
        return F.col(expr.name)
    if isinstance(expr, FStr):
        return F.lit(expr.value)
    if isinstance(expr, FNum):
        return F.lit(expr.value)
    if isinstance(expr, VArith):
        l = value_to_column(expr.left).try_cast("double")
        r = value_to_column(expr.right).try_cast("double")
        return {"+": l + r, "-": l - r, "*": l * r, "/": l / r}[expr.op]
    if isinstance(expr, VFunc):
        cols = [value_to_column(a) for a in expr.args]
        if expr.name == "concat":
            return F.concat(*[c.cast("string") for c in cols])
        if expr.name == "str":
            return cols[0].cast("string")
        if expr.name == "strlen":
            return F.length(cols[0].cast("string"))
        if expr.name == "ucase":
            return F.upper(cols[0].cast("string"))
        if expr.name == "lcase":
            return F.lower(cols[0].cast("string"))
        if expr.name == "substr":
            start = value_to_column(expr.args[1]).try_cast("int")
            if len(expr.args) == 3:
                return cols[0].cast("string").substr(
                    start, value_to_column(expr.args[2]).try_cast("int")
                )
            return F.substring(cols[0].cast("string"), start, F.lit(2**31 - 1))
        if expr.name == "coalesce":
            return F.coalesce(*cols)
        if expr.name == "abs":
            return F.abs(cols[0].try_cast("double"))
        if expr.name == "round":
            return F.round(cols[0].try_cast("double"), 0)
        if expr.name == "ceil":
            return F.ceil(cols[0].try_cast("double")).cast("double")
        if expr.name == "floor":
            return F.floor(cols[0].try_cast("double")).cast("double")
        if expr.name in ("strbefore", "strafter"):
            # spec §17.4.3.17-18: empty string when there is no match
            # (instr, not substring_index — the latter returns the WHOLE
            # string on a miss, the wrong sentinel)
            s0, d0 = cols[0].cast("string"), cols[1].cast("string")
            pos = F.instr(s0, d0)
            if expr.name == "strbefore":
                hit = s0.substr(F.lit(1), pos - 1)
            else:
                hit = s0.substr(pos + F.length(d0), F.length(s0))
            return F.when(pos > 0, hit).otherwise(F.lit(""))
        if expr.name == "replace":
            return F.regexp_replace(
                cols[0].cast("string"), cols[1].cast("string"), cols[2].cast("string")
            )
        if expr.name == "md5":
            return F.md5(cols[0].cast("string"))
        if expr.name == "sha256":
            return F.sha2(cols[0].cast("string"), 256)
        if expr.name.startswith("xsd:"):
            # XPath constructor casts (spec §17.5): a malformed lexical
            # form becomes NULL via try_cast, which eliminates the
            # solution — SPARQL's cast-error semantics.
            target = {
                "xsd:integer": "long",
                "xsd:decimal": "double",
                "xsd:double": "double",
                "xsd:float": "double",
                "xsd:string": "string",
                "xsd:boolean": "boolean",
            }[expr.name]
            return cols[0].try_cast(target)
        raise QueryError(f"unknown value function {expr.name!r}")
    if isinstance(expr, VIf):
        return F.when(to_column(expr.cond), value_to_column(expr.then)).otherwise(
            value_to_column(expr.other)
        )
    raise QueryError(f"unknown value expression {expr!r}")


def to_column(expr: FilterExpr) -> Column:
    """Lower a FilterExpr to a Spark Column predicate over the solution's
    variable columns (bare variable names, the select_join convention)."""
    if isinstance(expr, FCmp):
        numeric = _is_numeric(expr.left) or _is_numeric(expr.right)

        def side(op) -> Column:
            # try_cast, not cast: ANSI mode (Spark 4 default) throws on a
            # malformed number, but SPARQL type errors must ELIMINATE the
            # solution (§17.2) — try_cast's NULL does exactly that.
            col = value_to_column(op)
            return col.try_cast("double") if numeric else col

        l, r = side(expr.left), side(expr.right)
        return {
            "=": l == r,
            "!=": l != r,
            "<": l < r,
            ">": l > r,
            "<=": l <= r,
            ">=": l >= r,
        }[expr.op]
    if isinstance(expr, FRegex):
        pat = expr.pattern
        if "i" in expr.flags:
            pat = "(?i)" + pat
        return F.col(expr.var.name).rlike(pat)
    if isinstance(expr, FStrPred):
        l = value_to_column(expr.left).cast("string")
        r = value_to_column(expr.right).cast("string")
        if expr.name == "strstarts":
            return l.startswith(r)
        if expr.name == "strends":
            return l.endswith(r)
        return l.contains(r)
    if isinstance(expr, FBound):
        return F.col(expr.var.name).isNotNull()
    if isinstance(expr, FNot):
        return ~to_column(expr.inner)
    if isinstance(expr, FAnd):
        return to_column(expr.left) & to_column(expr.right)
    if isinstance(expr, FOr):
        return to_column(expr.left) | to_column(expr.right)
    raise QueryError(f"unknown filter expression {expr!r}")


# ---------------------------------------------------------------------------
# Parser (over the text frontend's token stream)
# ---------------------------------------------------------------------------


def _split_head(tokens, heads: tuple[str, ...]) -> str | None:
    """If the next token starts with one of ``heads``, consume and return
    that head, pushing any fused remainder back onto the stream (the
    tokenizer keeps '?x>5'-style runs as one word; operators legitimately
    fuse with their operand)."""
    tok = tokens.peek()
    if tok is None or not isinstance(tok, str):
        return None
    for head in heads:
        if tok == head:
            tokens.take()
            return head
        if tok.startswith(head) and len(tok) > len(head):
            # don't split '!=' into '!' + '=', or '<=' into '<' + '='
            if head in ("!", "=", "<", ">") and tok[len(head)] == "=":
                continue
            # don't split a negative number '-3' used as an operand — the
            # caller only probes for '-' when an operator is expected, so
            # splitting is correct there; numbers keep working because
            # '3' parses as the right-hand operand.
            tokens.take()
            tokens.toks.insert(tokens.i, tok[len(head):])
            return head
    return None


def _parse_call(tokens, term, name: str):
    """REGEX(...) / BOUND(...) — the boolean function constraints."""
    tokens.take()  # the function-name word
    tokens.expect("(")
    v = tokens.take()
    if not (isinstance(v, str) and (v.startswith("?") or v.startswith("$"))):
        raise QueryError(f"{name}() takes a variable, got {v!r}")
    var = FVar(v[1:])
    if name == "BOUND":
        tokens.expect(")")
        return FBound(var)
    if tokens.peek() != ",":
        raise QueryError("REGEX takes (?var, \"pattern\" [, \"flags\"])")
    tokens.take()
    pat = tokens.take()
    if not (isinstance(pat, str) and pat.startswith('"')):
        raise QueryError(f"REGEX pattern must be a string literal, got {pat!r}")
    pattern = re.sub(r"\\(.)", r"\1", pat[1:-1])
    flags = ""
    if tokens.peek() == ",":
        tokens.take()
        fl = tokens.take()
        if not (isinstance(fl, str) and fl.startswith('"')):
            raise QueryError(f"REGEX flags must be a string literal, got {fl!r}")
        flags = fl[1:-1]
        if flags not in ("", "i"):
            raise QueryError(f"unsupported REGEX flags {flags!r} (only 'i')")
    tokens.expect(")")
    return FRegex(var, pattern, flags)


def _parse_str_pred(tokens, term, name: str) -> FilterExpr:
    """STRSTARTS/STRENDS/CONTAINS(value, value) — boolean string
    predicates over full value expressions (unlike REGEX/BOUND, the
    arguments are not restricted to variables)."""
    tokens.take()  # the function-name word
    tokens.expect("(")
    left = parse_value(tokens, term)
    if tokens.peek() != ",":
        raise QueryError(f"{name} takes two arguments")
    tokens.take()
    right = parse_value(tokens, term)
    tokens.expect(")")
    return FStrPred(name.lower(), left, right)


def parse_value(tokens, term) -> ValueExpr:
    """Parse one value expression (the BIND / comparison-operand grammar)."""

    def add() -> ValueExpr:
        left = mul()
        while True:
            op = _split_head(tokens, _ARITH_ADD)
            if op is None:
                return left
            left = VArith(op, left, mul())

    def mul() -> ValueExpr:
        left = vprimary()
        while True:
            op = _split_head(tokens, _ARITH_MUL)
            if op is None:
                return left
            left = VArith(op, left, vprimary())

    def vprimary() -> ValueExpr:
        tok = tokens.peek()
        if tok is None:
            raise QueryError("unexpected end of value expression")
        if isinstance(tok, str) and tok.upper() in _VALUE_FUNCS:
            name = tokens.take().upper()
            tokens.expect("(")
            if name == "IF":
                cond = _parse_or(tokens, term)
                tokens.expect(",")
                then = add()
                tokens.expect(",")
                other = add()
                tokens.expect(")")
                return VIf(cond, then, other)
            args = [add()]
            while tokens.peek() == ",":
                tokens.take()
                args.append(add())
            tokens.expect(")")
            lo = name.lower()
            n = len(args)
            if lo == "concat" and n < 1:
                raise QueryError("CONCAT takes at least one argument")
            if lo in ("str", "strlen", "ucase", "lcase") and n != 1:
                raise QueryError(f"{name} takes exactly one argument")
            if lo == "substr" and n not in (2, 3):
                raise QueryError("SUBSTR takes (value, start [, length])")
            if lo in ("abs", "round", "ceil", "floor") and n != 1:
                raise QueryError(f"{name} takes exactly one argument")
            if lo in ("md5", "sha256") and n != 1:
                raise QueryError(f"{name} takes exactly one argument")
            if lo in ("strbefore", "strafter") and n != 2:
                raise QueryError(f"{name} takes exactly two arguments")
            if lo == "replace" and n != 3:
                raise QueryError("REPLACE takes (value, pattern, replacement)")
            if lo.startswith("xsd:") and n != 1:
                raise QueryError(f"{name} cast takes exactly one argument")
            return VFunc(lo, tuple(args))
        if tok == "(":
            tokens.take()
            inner = add()
            tokens.expect(")")
            return inner
        tok = tokens.take()
        if not isinstance(tok, str):
            raise QueryError(f"bad value operand {tok!r}")
        if tok.startswith("?") or tok.startswith("$"):
            return FVar(tok[1:])
        if tok.startswith('"'):
            return FStr(_unescape_nt(tok[1:-1]))
        if _NUM_RE.match(tok):
            return FNum(float(tok))
        if tok[0].isdigit() and any(c in tok for c in "+-*/"):
            # a fused ARITHMETIC run like '2-1' or '3*4': _NUM_RE already
            # rejected it (so it is not scientific notation), and treating
            # it as a string operand would silently make a numeric
            # comparison lexicographic — same refuse-loudly rule as the
            # boolean-operator runs below.
            raise QueryError(
                f"cannot parse operand {tok!r}; "
                "separate operators with whitespace"
            )
        if not (tok.startswith("<") and tok.endswith(">")) and any(
            s in tok for s in ("&&", "||", "<", ">", "=", "!")
        ):
            # a fused run like '5&&?y' — the tokenizer keeps operator
            # characters inside words; refuse loudly rather than treat the
            # run as a string operand (the parser-says-so principle).
            raise QueryError(
                f"cannot parse operand {tok!r}; "
                "separate operators with whitespace"
            )
        if tokens.peek() == "(":
            raise QueryError(
                f"unknown function {tok!r}; supported: "
                f"{', '.join(_VALUE_FUNCS)}, REGEX, BOUND"
            )
        # bare word / <iri> / prefixed name → engine term value
        return FStr(term(tok))

    return add()


def _parse_or(tokens, term) -> FilterExpr:
    left = _parse_and(tokens, term)
    while _split_head(tokens, ("||",)):
        left = FOr(left, _parse_and(tokens, term))
    return left


def _parse_and(tokens, term) -> FilterExpr:
    left = _parse_unary(tokens, term)
    while _split_head(tokens, ("&&",)):
        left = FAnd(left, _parse_unary(tokens, term))
    return left


def _parse_unary(tokens, term) -> FilterExpr:
    if _split_head(tokens, ("!",)):
        return FNot(_parse_unary(tokens, term))
    return _parse_fprimary(tokens, term)


def _parse_fprimary(tokens, term) -> FilterExpr:
    tok = tokens.peek()
    if tok is None:
        raise QueryError("unexpected end of FILTER expression")
    if isinstance(tok, str) and tok.upper() in ("REGEX", "BOUND"):
        return _parse_call(tokens, term, tok.upper())
    if isinstance(tok, str) and tok.upper() in _STR_PREDS:
        return _parse_str_pred(tokens, term, tok.upper())
    # A '(' is ambiguous: '(?a + 1) > 2' is a parenthesized VALUE, while
    # '(?a > 1 || ?b > 2)' is a boolean group. Try the value-comparison
    # parse first and backtrack (restoring the token stream, which
    # _split_head may have mutated) if no comparison follows.
    save_i, save_toks = tokens.i, list(tokens.toks)
    try:
        left = parse_value(tokens, term)
        nxt = tokens.peek()
        negated = False
        if isinstance(nxt, str) and nxt.upper() == "NOT":
            tokens.take()
            if not (isinstance(tokens.peek(), str) and tokens.peek().upper() == "IN"):
                raise QueryError("expected IN after NOT in FILTER expression")
            negated = True
            nxt = tokens.peek()
        if isinstance(nxt, str) and nxt.upper() == "IN":
            # spec §17.4.1.9-10: IN desugars to an equality disjunction
            # (so numeric coercion and type-error elimination come free
            # from FCmp); NOT IN is its negation; 'IN ()' is false.
            tokens.take()
            tokens.expect("(")
            members: list = []
            if tokens.peek() != ")":
                members.append(parse_value(tokens, term))
                while tokens.peek() == ",":
                    tokens.take()
                    members.append(parse_value(tokens, term))
            tokens.expect(")")
            if not members:
                expr: FilterExpr = FCmp("!=", FNum(0.0), FNum(0.0))  # false
            else:
                expr = FCmp("=", left, members[0])
                for m in members[1:]:
                    expr = FOr(expr, FCmp("=", left, m))
            return FNot(expr) if negated else expr
        op = _split_head(tokens, _CMP_OPS)
        if op is None:
            raise QueryError(
                f"FILTER operand {left!r} needs a comparison "
                f"(=, !=, <, >, <=, >=), IN, or REGEX/BOUND"
            )
        return FCmp(op, left, parse_value(tokens, term))
    except QueryError:
        if tok != "(":
            raise
        tokens.i, tokens.toks = save_i, save_toks
    tokens.take()  # '('
    inner = _parse_or(tokens, term)
    tokens.expect(")")
    return inner


def parse_filter(tokens, term) -> FilterExpr:
    """Parse one FILTER constraint from ``tokens`` (a plans.text._Tokens —
    any object with peek/take/expect and a ``toks``/``i`` stream). Accepts
    both SPARQL constraint forms: ``FILTER ( expr )`` (bracketted
    expression — the keyword itself is consumed by the caller) and
    ``FILTER REGEX(...)`` / ``FILTER BOUND(...)`` (bare function call).
    ``term`` resolves a bare-word operand to its engine value (the text
    frontend's prefixed-name expansion); pass ``str`` when no prologue
    applies."""
    tok = tokens.peek()
    if isinstance(tok, str) and tok.upper() in ("REGEX", "BOUND"):
        return _parse_call(tokens, term, tok.upper())
    if isinstance(tok, str) and tok.upper() in _STR_PREDS:
        return _parse_str_pred(tokens, term, tok.upper())
    tokens.expect("(")
    expr = _parse_or(tokens, term)
    tokens.expect(")")
    return expr


def parse_filter_text(text: str) -> FilterExpr:
    """Parse a standalone FILTER expression string (builder convenience:
    ``Sparql().filter_expr("?x > 5 && REGEX(?name, \\"x$\\")")``). The
    surrounding ``FILTER( ... )`` wrapper is optional."""
    from rippledb_spark.plans.text import _Tokens  # lazy: text imports us

    t = _Tokens(text)
    if isinstance(t.peek(), str) and t.peek().upper() == "FILTER":
        t.take()
    if t.peek() == "(":
        expr = parse_filter(t, str)
    else:
        # bare expression without brackets: wrap ONLY the unconsumed
        # remainder (a consumed FILTER keyword must not reappear at the
        # current index) and rewind to the synthetic bracket
        t.toks = ["("] + t.toks[t.i:] + [")"]
        t.i = 0
        expr = parse_filter(t, str)
    if t.peek() is not None:
        raise QueryError(f"trailing tokens in FILTER expression: {t.toks[t.i:]}")
    return expr


def parse_value_text(text: str) -> ValueExpr:
    """Parse a standalone value expression string (builder convenience:
    ``Sparql().bind("$label", 'CONCAT(?name, "-", ?nat)')``)."""
    from rippledb_spark.plans.text import _Tokens

    t = _Tokens(text)
    expr = parse_value(t, str)
    if t.peek() is not None:
        raise QueryError(f"trailing tokens in value expression: {t.toks[t.i:]}")
    return expr
