"""ES 6.x query-string parser (SURVEY.md L3 — the reference's literal UX).

The reference's search box posts the user's raw query string verbatim to
Elasticsearch's URI search (``indexView.html:13-19``, rewritten at
``:96`` into ``_search?q=``), so the *query language* the reference's
user actually types is the ES 6.x ``query_string`` mini-language. This
module parses that syntax and compiles it onto the engine's native
search shapes:

    field:value          scoped term (analyzed)
    "a phrase"           consecutive-token phrase
    foo* / f?o / *oo*    wildcards (trailing, mid-token, leading)
    field:[a TO b]       inclusive term range   (``{a TO b}`` exclusive,
                         ``*`` = open bound, mixed brackets allowed)
    a AND b, a OR b      boolean operators (also ``&&`` / ``||``)
    NOT a, -a, !a        negation
    ( ... )              grouping
    a b                  adjacency = default operator (OR, ES default)

Precedence: NOT > AND > OR. A leading ``+`` (ES "must" marker) is
accepted and treated as a plain clause — in filter context (no scoring)
``+a b`` and ``a b`` differ only by score, which this boolean surface
doesn't rank.

Scale design: the whole query compiles to ONE narrow boolean expression
over per-row token arrays (one ``tokens_expr`` per referenced field) —
no explode, no join, no shuffle; evaluation happens inside whole-stage
codegen during the scan.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdatasearchpro_spark.operators.search import (
    all_string_cols,
    analyze_query,
    phrase_expr,
    proximity_expr,
    tokens_expr,
    wildcard_to_like,
)


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Term:
    field: Optional[str]
    text: str
    fuzzy: Optional[int] = None  # term~N edit distance (None = exact)
    boost: float = 1.0


@dataclass(frozen=True)
class Phrase:
    field: Optional[str]
    text: str
    slop: int = 0  # "a b"~N proximity window (0 = exact phrase)
    boost: float = 1.0


@dataclass(frozen=True)
class Wildcard:
    field: Optional[str]
    pattern: str
    boost: float = 1.0


@dataclass(frozen=True)
class Range:
    field: Optional[str]
    lo: Optional[str]
    hi: Optional[str]
    include_lo: bool
    include_hi: bool


@dataclass(frozen=True)
class Exists:
    field: str


@dataclass(frozen=True)
class Not:
    child: object


@dataclass(frozen=True)
class And:
    children: tuple


@dataclass(frozen=True)
class Or:
    children: tuple


# ---------------------------------------------------------------------------
# Lexer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<quoted>"(?P<qbody>[^"]*)"
            (?:~(?P<qslop>\d+))?            # "a b"~2  proximity slop
            (?:\^(?P<qboost>\d+(?:\.\d+)?))?  # "a b"^3  boost
        )
      | (?P<range>[\[{]\s*(?P<lo>[^\s\]}]+)\s+TO\s+(?P<hi>[^\s\]}]+)\s*[\]}])
      | (?P<word>[^\s()"\[\]{}]+)
    )""",
    re.VERBOSE | re.IGNORECASE,
)

# trailing ~N (fuzzy) and/or ^N (boost) on a bare word; ~ with no digits
# = ES default fuzziness (AUTO -> 2 edits for terms this surface serves)
_WORD_SUFFIX_RE = re.compile(
    r"^(?P<body>.+?)(?:~(?P<fuzz>\d*))?(?:\^(?P<boost>\d+(?:\.\d+)?))?$"
)


def _lex(q: str) -> list[tuple[str, object]]:
    """Token stream: (kind, payload). Field prefixes stay attached to
    their word/quoted/range payload and are split by the parser."""
    out: list[tuple[str, object]] = []
    pos = 0
    while pos < len(q):
        m = _TOKEN_RE.match(q, pos)
        if not m or m.end() == pos:
            if q[pos:].strip():
                raise ValueError(f"unparsable query string at: {q[pos:]!r}")
            break
        pos = m.end()
        if m.group("lparen"):
            out.append(("(", None))
        elif m.group("rparen"):
            out.append((")", None))
        elif m.group("quoted") is not None:
            slop = int(m.group("qslop")) if m.group("qslop") else 0
            boost = float(m.group("qboost")) if m.group("qboost") else 1.0
            out.append(("phrase", (None, m.group("qbody"), slop, boost)))
        elif m.group("range") is not None:
            raw = m.group("range")
            out.append(
                (
                    "range",
                    (
                        None,
                        m.group("lo"),
                        m.group("hi"),
                        raw[0] == "[",
                        raw[-1] == "]",
                    ),
                )
            )
        else:
            out.append(("word", m.group("word")))
    return out


# ---------------------------------------------------------------------------
# Parser (recursive descent; NOT > AND > OR; adjacency == OR)
# ---------------------------------------------------------------------------

class _Parser:
    def __init__(self, tokens: list[tuple[str, object]]):
        self.toks = tokens
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def _is_op(self, word: str, *names: str) -> bool:
        return word.upper() in names

    def parse(self):
        node = self.parse_or()
        if self.peek()[0] is not None:
            raise ValueError(f"trailing tokens in query string at #{self.i}")
        return node

    def parse_or(self):
        children = [self.parse_and()]
        while True:
            kind, val = self.peek()
            if kind is None or kind == ")":
                break
            if kind == "word" and self._is_op(str(val), "OR", "||"):
                self.next()
                children.append(self.parse_and())
            else:
                # adjacency: ES default operator (OR)
                children.append(self.parse_and())
        return children[0] if len(children) == 1 else Or(tuple(children))

    def parse_and(self):
        children = [self.parse_unary()]
        while True:
            kind, val = self.peek()
            if kind == "word" and self._is_op(str(val), "AND", "&&"):
                self.next()
                children.append(self.parse_unary())
            else:
                break
        return children[0] if len(children) == 1 else And(tuple(children))

    def parse_unary(self):
        kind, val = self.peek()
        if kind == "word":
            w = str(val)
            if self._is_op(w, "NOT", "!"):
                self.next()
                return Not(self.parse_unary())
            if w.startswith("-") and len(w) > 1:
                self.next()
                return Not(self._leaf_from_word(w[1:]))
            if w.startswith("!") and len(w) > 1:
                self.next()
                return Not(self._leaf_from_word(w[1:]))
            if w.startswith("+") and len(w) > 1:
                self.next()
                return self._leaf_from_word(w[1:])
        return self.parse_primary()

    def parse_primary(self):
        kind, val = self.next()
        if kind == "(":
            node = self.parse_or()
            k2, _ = self.next()
            if k2 != ")":
                raise ValueError("unbalanced parenthesis in query string")
            return node
        if kind == "phrase":
            return Phrase(val[0], val[1], val[2], val[3])
        if kind == "range":
            field, lo, hi, ilo, ihi = val
            return Range(
                field, None if lo == "*" else lo, None if hi == "*" else hi, ilo, ihi
            )
        if kind == "word":
            return self._leaf_from_word(str(val))
        raise ValueError(f"unexpected token {kind!r} in query string")

    def _leaf_from_word(self, w: str):
        field = None
        if ":" in w:
            field, _, rest = w.partition(":")
            if not field or not rest:
                raise ValueError(f"malformed field clause: {w!r}")
            if field == "_exists_":  # ES `_exists_:field` syntax
                return Exists(rest)
            w = rest
            # field-scoped quoted phrases / ranges never reach here: the
            # lexer splits them and _lex_with_fields folds the field in.
        m = _WORD_SUFFIX_RE.match(w)
        fuzzy = None
        boost = 1.0
        if m and (m.group("fuzz") is not None or m.group("boost") is not None):
            w = m.group("body")
            if m.group("fuzz") is not None:
                # bare `~` = ES default fuzziness (AUTO); 2 edits
                fuzzy = int(m.group("fuzz")) if m.group("fuzz") else 2
            if m.group("boost") is not None:
                boost = float(m.group("boost"))
        if "*" in w or "?" in w:
            if fuzzy is not None:
                raise ValueError(f"cannot combine wildcard and fuzzy: {w!r}")
            return Wildcard(field, w, boost)
        return Term(field, w, fuzzy, boost)


def parse_query_string(q: str):
    """Parse an ES 6.x query string into this module's AST.

    Field-scoped phrases/ranges with internal spaces (``f:"a b"``,
    ``f:[a TO b]``) are stitched after lexing (the lexer is
    whitespace-driven, so the field prefix arrives as its own word)."""
    return _Parser(_lex_with_fields(q)).parse()


def _lex_with_fields(q: str) -> list[tuple[str, object]]:
    """Lex, then fold ``word`` tokens ending in ``field:`` into the
    following phrase/range token's field slot."""
    raw = _lex(q)
    out: list[tuple[str, object]] = []
    i = 0
    while i < len(raw):
        kind, val = raw[i]
        if (
            kind == "word"
            and str(val).endswith(":")
            and len(str(val)) > 1
            and i + 1 < len(raw)
            and raw[i + 1][0] in ("phrase", "range")
        ):
            field = str(val)[:-1]
            nkind, nval = raw[i + 1]
            out.append((nkind, (field, *nval[1:])))
            i += 2
            continue
        out.append((kind, val))
        i += 1
    return out


# ---------------------------------------------------------------------------
# Compiler: AST -> one boolean Column
# ---------------------------------------------------------------------------

def compile_predicate(
    node,
    *,
    default_cols: Sequence[str],
    valid_fields: Sequence[str],
    fuzzy_resolver=None,
    nested_resolver=None,
    analyzer: str = "standard",
    field_analyzers: "dict[str, str] | None" = None,
) -> Column:
    """Compile a parsed query to a single boolean expression. Each
    referenced field's token array is a ``tokens_expr`` over that
    column; the default (unscoped) field is the ``_all`` concatenation
    of ``default_cols``.

    ``fuzzy_resolver(term, max_edits, text_cols) -> list[str]`` expands
    a fuzzy clause (``term~N``) to its matched vocabulary variants —
    the one clause type that cannot be a closed-form expression (the
    match set depends on the corpus vocabulary). The variants fold back
    into ONE ``arrays_overlap`` literal, so the compiled filter stays a
    single narrow predicate; :func:`query_string_filter` wires the
    vocabulary-first expansion (search.fuzzy_vocab_terms) in
    automatically. Boosts parse and round-trip on the AST but are
    scoring-only (weighted_terms) — a boolean filter is boost-invariant,
    exactly like ES filter context."""
    valid = set(valid_fields)

    def _nested(field: str):
        """ES dotted-path scoping (``props.k:v``): resolve through
        ``nested_resolver`` to a text expression over a struct member /
        JSON path — still one narrow per-row expression."""
        if nested_resolver is not None and "." in field:
            expr = nested_resolver(field)
            if expr is not None:
                return expr
        return None

    def field_an(field: Optional[str]) -> str:
        """Per-field analyzer resolution (ES: every field is analyzed
        by ITS mapped analyzer; unscoped/_all clauses use the default)."""
        if field and field_analyzers:
            return field_analyzers.get(field, analyzer)
        return analyzer

    @functools.cache  # one token expression per field per compile
    def toks(field: Optional[str]) -> Column:
        if field is None:
            return tokens_expr(list(default_cols), analyzer)
        if field == "_all":
            return tokens_expr(list(valid_fields), analyzer)
        if field not in valid:
            nested = _nested(field)
            if nested is not None:
                return tokens_expr(nested, field_an(field))
            raise ValueError(f"unknown field {field!r}; searchable: {sorted(valid)}")
        return tokens_expr(field, field_an(field))

    def text_cols(field: Optional[str]):
        if field is None:
            return list(default_cols)
        if field == "_all":
            return list(valid_fields)
        if field not in valid:
            nested = _nested(field)
            if nested is not None:
                return nested
            raise ValueError(f"unknown field {field!r}; searchable: {sorted(valid)}")
        return field

    def go(n) -> Column:
        if isinstance(n, Term):
            terms = analyze_query(n.text, field_an(n.field))
            if not terms:
                return F.lit(False)
            if n.fuzzy is not None and len(terms) == 1:
                if fuzzy_resolver is None:
                    raise ValueError(
                        f"fuzzy clause {n.text!r}~{n.fuzzy} needs a corpus "
                        "vocabulary; compile via query_string_filter (or pass "
                        "fuzzy_resolver)"
                    )
                variants = fuzzy_resolver(terms[0], n.fuzzy, text_cols(n.field))
                if not variants:
                    return F.lit(False)
                return F.arrays_overlap(
                    toks(n.field), F.array(*[F.lit(v) for v in variants])
                )
            if len(terms) == 1:
                return F.array_contains(toks(n.field), terms[0])
            # multi-token term (e.g. foo-bar): ES analyzes to a phrase
            return phrase_expr(text_cols(n.field), terms, field_an(n.field))
        if isinstance(n, Phrase):
            terms = analyze_query(n.text, field_an(n.field))
            if not terms:
                return F.lit(False)
            if len(terms) == 1:
                return F.array_contains(toks(n.field), terms[0])
            if n.slop > 0:
                return proximity_expr(
                    text_cols(n.field), terms, n.slop, field_an(n.field)
                )
            return phrase_expr(text_cols(n.field), terms, field_an(n.field))
        if isinstance(n, Wildcard):
            like = wildcard_to_like(n.pattern)
            return F.exists(toks(n.field), lambda t: t.like(like))
        if isinstance(n, Range):
            lo = n.lo.lower() if n.lo is not None else None
            hi = n.hi.lower() if n.hi is not None else None

            def pred(t):
                conds = []
                if lo is not None:
                    conds.append(t >= lo if n.include_lo else t > lo)
                if hi is not None:
                    conds.append(t <= hi if n.include_hi else t < hi)
                if not conds:
                    return F.lit(True)
                out = conds[0]
                for c in conds[1:]:
                    out = out & c
                return out

            return F.exists(toks(n.field), pred)
        if isinstance(n, Exists):
            # ES `_exists_:f` — the field has a non-null value. Nested
            # dotted paths resolve like any scoped clause (a JSON path
            # that is absent yields NULL).
            if n.field in valid:
                return F.col(n.field).isNotNull()
            nested = _nested(n.field)
            if nested is not None:
                return nested.isNotNull()
            raise ValueError(
                f"unknown field {n.field!r}; searchable: {sorted(valid)}"
            )
        if isinstance(n, Not):
            return ~go(n.child)
        if isinstance(n, And):
            out = go(n.children[0])
            for c in n.children[1:]:
                out = out & go(c)
            return out
        if isinstance(n, Or):
            out = go(n.children[0])
            for c in n.children[1:]:
                out = out | go(c)
            return out
        raise TypeError(f"unknown AST node: {n!r}")

    return go(node)


def dotted_path_resolver(docs: DataFrame):
    """ES-style dotted-path field resolution over a DataFrame's ACTUAL
    schema (VERDICT r4 task 8): ``a.b.c`` scopes into a struct column's
    member (``F.col("a.b.c")`` — Catalyst prunes to the member, so the
    scan reads only that leaf) or a JSON-string column's path
    (``get_json_object(a, '$.b.c')`` — a narrow JVM expression).  ES
    matches dotted paths into object fields the same way; the reference
    exposes it by delegation (indexView.html:13-19).  Returns
    ``field -> Column | None`` (None = not a resolvable path, caller
    keeps its unknown-field error)."""
    from pyspark.sql import types as T

    def resolve(field: str):
        root, _, rest = field.partition(".")
        if not rest or root not in docs.columns:
            return None
        dt = docs.schema[root].dataType
        if isinstance(dt, T.StructType):
            cur = dt
            for part in rest.split("."):
                if not isinstance(cur, T.StructType) or part not in cur.names:
                    return None
                cur = cur[part].dataType
            return F.col(field).cast("string")
        if isinstance(dt, T.StringType):
            return F.get_json_object(F.col(root), "$." + rest)
        if isinstance(dt, T.MapType):
            expr: Column = F.col(root)
            for part in rest.split("."):
                expr = expr.getItem(part)
            return expr.cast("string")
        return None

    return resolve


def query_string_filter(
    docs: DataFrame,
    q: str,
    *,
    default_field: "str | Sequence[str] | None" = None,
    fields: Optional[Sequence[str]] = None,
    minimum_should_match: int = 0,
    analyzer: str = "standard",
    field_analyzers: "dict[str, str] | None" = None,
) -> DataFrame:
    """Filter ``docs`` with a raw ES 6.x query string — the reference's
    end-to-end ``?q=`` path run natively. Returns matching rows
    unchanged.

    ``default_field``: column(s) unscoped clauses search (default: every
    string column — ES 6.x ``_all`` over the stringified document,
    reference ``BulkProcessImpl.java:112-117``).
    ``fields``: the set of columns field-scoped clauses may name
    (default: all string columns).
    ``minimum_should_match``: ES's parameter of the same name — when the
    query's TOP level is a disjunction (the default-operator case
    ``a b c``), require at least this many of its direct clauses to
    match instead of any one (0/1 = plain OR). Compiles to a
    per-clause indicator sum >= m — still one narrow predicate.
    """
    valid = list(fields) if fields is not None else all_string_cols(docs)
    if default_field is None:
        default = valid
    elif isinstance(default_field, str):
        default = [default_field]
    else:
        default = list(default_field)
    node = parse_query_string(q)

    def resolver(term: str, max_edits: int, cols) -> list[str]:
        from bigdatasearchpro_spark.operators.search import fuzzy_vocab_terms

        return fuzzy_vocab_terms(docs, term, max_edits=max_edits, text_col=cols)

    nested = dotted_path_resolver(docs)

    if minimum_should_match > 1 and isinstance(node, Or):
        indicators = [
            F.when(
                compile_predicate(
                    c, default_cols=default, valid_fields=valid,
                    fuzzy_resolver=resolver, nested_resolver=nested,
                    analyzer=analyzer, field_analyzers=field_analyzers,
                ),
                1,
            ).otherwise(0)
            for c in node.children
        ]
        pred = sum(indicators[1:], indicators[0]) >= F.lit(minimum_should_match)
    else:
        pred = compile_predicate(
            node, default_cols=default, valid_fields=valid,
            fuzzy_resolver=resolver, nested_resolver=nested,
            analyzer=analyzer, field_analyzers=field_analyzers,
        )
    from bigdatasearchpro_spark.sources.files import fan_out

    return fan_out(docs).filter(pred)


def weighted_terms(node, analyzer: str = "standard") -> list[tuple[str, float]]:
    """Scoring terms with their ``^boost`` weights: the non-negated
    Term/Phrase leaves' analyzed terms, each weighted by its clause's
    boost (a term under ``(a b)^2`` style grouping isn't supported by
    the grammar — boosts attach to leaves, like ES query_string). A
    term reachable through several leaves keeps the MAX boost (ES sums
    per-clause scores; for the flat BM25 surface the max is the
    deterministic choice that can only raise, never reorder-below, the
    unboosted ranking)."""
    weights: dict[str, float] = {}
    order: list[str] = []

    def go(n, negated: bool) -> None:
        if isinstance(n, (Term, Phrase)):
            if not negated:
                for t in analyze_query(n.text, analyzer):
                    if t not in weights:
                        weights[t] = n.boost
                        order.append(t)
                    else:
                        weights[t] = max(weights[t], n.boost)
        elif isinstance(n, Not):
            go(n.child, not negated)
        elif isinstance(n, (And, Or)):
            for c in n.children:
                go(c, negated)

    go(node, False)
    return [(t, weights[t]) for t in order]


# ---------------------------------------------------------------------------
# simple_query_string — the lenient end-user grammar
# ---------------------------------------------------------------------------

_SIMPLE_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<or>\|)
      | (?P<and>\+)
      | (?P<not>-)
      | (?P<quoted>"(?P<qbody>[^"]*)"(?:~(?P<qslop>\d+))?)
      | (?P<word>[^\s()"|+-]+)
    )""",
    re.VERBOSE,
)


def parse_simple_query_string(q: str, *, default_operator: str = "or"):
    """Parse ES ``simple_query_string`` syntax into the same AST the
    full grammar compiles from.  Operators: ``+`` AND, ``|`` OR,
    ``-`` NOT, ``"..."`` phrase (``~N`` slop), trailing ``*`` prefix,
    ``~N`` fuzzy, ``( )`` grouping; adjacency uses
    ``default_operator``.  The grammar is LENIENT by contract — ES
    never rejects a simple query: dangling operators are dropped,
    an unmatched ``)`` is skipped, an unmatched ``(`` closes at end of
    input — so any byte string parses to *some* query.
    """
    if default_operator not in ("or", "and"):
        raise ValueError("default_operator must be 'or' or 'and'")

    toks: list[tuple[str, object]] = []
    pos = 0
    while pos < len(q):
        m = _SIMPLE_TOKEN_RE.match(q, pos)
        if not m or m.end() == pos:
            break
        pos = m.end()
        if m.group("lparen"):
            toks.append(("(", None))
        elif m.group("rparen"):
            toks.append((")", None))
        elif m.group("or"):
            toks.append(("|", None))
        elif m.group("and"):
            toks.append(("+", None))
        elif m.group("not"):
            toks.append(("-", None))
        elif m.group("quoted") is not None:
            toks.append(("phrase", (m.group("qbody"),
                                    int(m.group("qslop") or 0))))
        else:
            toks.append(("word", m.group("word")))

    i = 0

    def parse_or(depth: int = 0):
        nonlocal i
        groups = [parse_and()]
        ops = []
        while i < len(toks):
            kind, _ = toks[i]
            if kind == "|":
                i += 1
                nxt = parse_and()
                if nxt is not None:
                    groups.append(nxt)
                    ops.append("or")
            elif kind == ")":
                if depth == 0:
                    i += 1  # lenient: skip the unmatched ')'
                    nxt = parse_and()
                    if nxt is not None:
                        groups.append(nxt)
                        ops.append(default_operator)
                    continue
                break
            elif kind in ("word", "phrase", "-", "(", "+"):
                nxt = parse_and()
                if nxt is None:
                    i += 1  # lenient: drop the dangling operator token
                else:
                    groups.append(nxt)
                    ops.append(default_operator)
            else:
                i += 1
        groups = [g for g in groups if g is not None]
        if not groups:
            return None
        if len(groups) == 1:
            return groups[0]
        if default_operator == "and" and "or" not in ops:
            return And(tuple(groups))
        if all(o == "or" for o in ops) or default_operator == "or":
            # adjacency at default 'or' flattens with explicit '|'
            merged = []
            for g in groups:
                merged.append(g)
            return Or(tuple(merged))
        # default 'and' with explicit '|' present: AND binds tighter —
        # fold runs of default-joined groups, then OR the runs
        runs: list[list] = [[groups[0]]]
        for op, g in zip(ops, groups[1:]):
            if op == "or":
                runs.append([g])
            else:
                runs[-1].append(g)
        folded = [r[0] if len(r) == 1 else And(tuple(r)) for r in runs]
        return folded[0] if len(folded) == 1 else Or(tuple(folded))

    def parse_and():
        nonlocal i
        parts = []
        while i < len(toks):
            kind, _ = toks[i]
            if kind == "+":
                i += 1
                continue
            if kind in ("|", ")"):
                break
            u = parse_unary()
            if u is None:
                break
            parts.append(u)
            # adjacency at default 'or' belongs to the OR level
            if default_operator == "or" and i < len(toks) \
                    and toks[i][0] not in ("+",):
                break
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else And(tuple(parts))

    def parse_unary():
        nonlocal i
        if i >= len(toks):
            return None
        kind, val = toks[i]
        if kind == "-":
            i += 1
            child = parse_unary()
            return None if child is None else Not(child)
        if kind == "(":
            i += 1
            inner = parse_or(depth=1)
            if i < len(toks) and toks[i][0] == ")":
                i += 1
            return inner
        if kind == "phrase":
            i += 1
            body, slop = val
            return Phrase(None, body, slop=slop)
        if kind == "word":
            i += 1
            m = _WORD_SUFFIX_RE.match(val)
            body = m.group("body") if m else val
            fuzz = m.group("fuzz") if m else None
            if fuzz is not None:
                return Term(None, body, fuzzy=int(fuzz) if fuzz else 2)
            if body.endswith("*") or "*" in body or "?" in body:
                return Wildcard(None, body)
            return Term(None, body)
        return None

    node = parse_or()
    return node if node is not None else Or(())


def simple_query_string_filter(
    docs: DataFrame,
    q: str,
    *,
    default_operator: str = "or",
    default_field: "str | Sequence[str] | None" = None,
    fields: Optional[Sequence[str]] = None,
    analyzer: str = "standard",
) -> DataFrame:
    """ES ``simple_query_string`` query: the lenient end-user grammar
    (``+ | - " * ~N ( )``; syntax errors degrade instead of failing)
    compiled through the SAME predicate compiler as the full
    ``query_string`` — one narrow boolean filter in the scan's codegen
    span, no explode/join.  Unlike ``query_string`` there is no field
    scoping inside the query; ``fields``/``default_field`` select the
    searched columns."""
    from bigdatasearchpro_spark.operators.search import (
        all_string_cols,
        fuzzy_vocab_terms,
    )

    valid = list(fields) if fields is not None else all_string_cols(docs)
    if default_field is None:
        default = valid
    elif isinstance(default_field, str):
        default = [default_field]
    else:
        default = list(default_field)
    node = parse_simple_query_string(q, default_operator=default_operator)
    if isinstance(node, Or) and not node.children:
        return docs.limit(0)

    def resolver(term: str, max_edits: int, cols) -> list[str]:
        return fuzzy_vocab_terms(docs, term, max_edits=max_edits,
                                 text_col=cols)

    pred = compile_predicate(
        node, default_cols=default, valid_fields=valid,
        fuzzy_resolver=resolver, nested_resolver=dotted_path_resolver(docs),
        analyzer=analyzer,
    )
    from bigdatasearchpro_spark.sources.files import fan_out

    return fan_out(docs).filter(pred)
