"""Recursive-descent DAX tokenizer/parser — the north-star upgrade over
the regex subset parser.

The reference's contract is its regexes (dax_parser.py:138-221; its
pyparsing grammar is dead code, :56-81).  This module parses DAX into a
real call tree, so nested constructs the regexes miss become visible:

    CALCULATE(CALCULATE(SUM(Sales[Amount]), Product[Color]="Red"),
              Date[Year]=2024)

regex mode captures one filter; AST mode captures BOTH levels and each
filter argument separately.

Equivalence contract (tests/test_dax_tokenizer.py): on the 8 golden
evaluation patterns the AST extractor agrees with the regex extractor
on the has-rules outcome; the production parity path (functions/dax.py)
stays regex so golden-triple counts are bit-stable.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<string>"[^"]*")
  | (?P<number>\d+\.?\d*)
  | (?P<bracket>'[^']+'\[[^\]]*\]|[A-Za-z_][\w ]*\[[^\]]*\]|\[[^\]]+\])
  | (?P<ident>[A-Za-z_]\w*)
  | (?P<op><=|>=|<>|&&|\|\||[<>=+\-*/^&])
  | (?P<lparen>\()
  | (?P<rparen>\))
  | (?P<comma>,)
  | (?P<other>.)
    """,
    re.VERBOSE,
)


@dataclass
class Token:
    kind: str
    text: str
    pos: int


def tokenize(dax: str) -> list[Token]:
    out = []
    for m in _TOKEN_RE.finditer(dax or ""):
        kind = m.lastgroup
        if kind == "ws":
            continue
        out.append(Token(kind, m.group(), m.start()))
    return out


# --- AST ----------------------------------------------------------------------


@dataclass
class Node:
    kind: str  # call | ref | string | number | ident | binop | raw
    text: str = ""
    name: str = ""
    args: list["Node"] = field(default_factory=list)

    def render(self) -> str:
        if self.kind == "call":
            return f"{self.name}({', '.join(a.render() for a in self.args)})"
        if self.kind == "binop":
            return f"{self.args[0].render()} {self.text} {self.args[1].render()}"
        return self.text


class _Parser:
    """Expr := cmp (('&&'|'||') cmp)* ;  cmp := add (op add)? ;
    add := atom (('+'|'-'|'*'|'/'|'&'|'^') atom)* ;
    atom := call | ref | string | number | ident | '(' Expr ')'.

    Tolerant: unknown tokens become raw nodes; unclosed parens close at
    end-of-input (malformed measures must not throw — the reference's
    regexes simply match nothing)."""

    def __init__(self, tokens: list[Token]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> Token | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> Token | None:
        t = self.peek()
        if t is not None:
            self.i += 1
        return t

    def parse_expr(self) -> Node:
        node = self.parse_cmp()
        while (t := self.peek()) and t.kind == "op" and t.text in ("&&", "||"):
            self.next()
            node = Node("binop", t.text, args=[node, self.parse_cmp()])
        return node

    def parse_cmp(self) -> Node:
        node = self.parse_add()
        if (t := self.peek()) and t.kind == "op" and t.text in (
            ">", "<", ">=", "<=", "=", "<>"
        ):
            self.next()
            node = Node("binop", t.text, args=[node, self.parse_add()])
        return node

    def parse_add(self) -> Node:
        node = self.parse_atom()
        while (t := self.peek()) and t.kind == "op" and t.text in (
            "+", "-", "*", "/", "&", "^"
        ):
            self.next()
            node = Node("binop", t.text, args=[node, self.parse_atom()])
        return node

    def parse_atom(self) -> Node:
        t = self.next()
        if t is None:
            return Node("raw", "")
        if t.kind == "ident":
            nxt = self.peek()
            if nxt and nxt.kind == "lparen":
                self.next()
                args = []
                while True:
                    p = self.peek()
                    if p is None or p.kind == "rparen":
                        self.next()
                        break
                    args.append(self.parse_expr())
                    p = self.peek()
                    if p and p.kind == "comma":
                        self.next()
                    elif p and p.kind == "rparen":
                        self.next()
                        break
                    elif p is None:
                        break
                return Node("call", name=t.text, args=args)
            return Node("ident", t.text)
        if t.kind == "lparen":
            inner = self.parse_expr()
            if (p := self.peek()) and p.kind == "rparen":
                self.next()
            return inner
        if t.kind in ("string", "number", "bracket"):
            return Node(
                {"bracket": "ref"}.get(t.kind, t.kind), t.text
            )
        return Node("raw", t.text)


def parse_dax(dax: str) -> Node:
    """Parse a whole measure body.  DAX statement glue (VAR x = e …
    RETURN e) is handled by parsing successive expressions until the
    token stream is exhausted — every expression (bindings and result)
    becomes a child of a synthetic program node, so walks see them all."""
    p = _Parser(tokenize(dax))
    exprs: list[Node] = []
    while p.peek() is not None:
        before = p.i
        exprs.append(p.parse_expr())
        if p.i == before:  # stray token (e.g. '=', 'RETURN') — skip it
            p.next()
    if len(exprs) == 1:
        return exprs[0]
    return Node("call", name="__program__", args=exprs)


def _walk(node: Node):
    yield node
    for a in node.args:
        yield from _walk(a)


_ENTITY_RE = re.compile(r"(\w+)\[")


def _entity_of(text: str) -> str:
    m = _ENTITY_RE.search(text)
    return m.group(1) if m else ""


def _clean(v: str) -> str:
    return v.replace('"', "").replace(" ", "_")


def extract_rules_ast(measure_name: str, dax: str) -> list[dict]:
    """Structural rule extraction: CALCULATE / IF / SWITCH at ANY
    nesting depth; one rule per filter argument (the regex parser lumps
    a multi-filter CALCULATE into one condition and only sees the first
    nesting level)."""
    rules: list[dict] = []

    def add(name, condition, action, classification, description, entity):
        rules.append(
            {
                "name": name,
                "condition": condition,
                "action": action,
                "classification": classification,
                "description": description,
                "entity": entity,
                "priority": 1,
            }
        )

    try:
        root = parse_dax(dax)
    except RecursionError:
        return rules
    for node in _walk(root):
        if node.kind != "call":
            continue
        fname = node.name.upper()
        if fname == "CALCULATE" and len(node.args) >= 2:
            for filt in node.args[1:]:
                cond = filt.render().strip()
                if not cond:
                    continue
                add(
                    f"{measure_name}_Filter",
                    cond,
                    "filter",
                    "",
                    f"Filter condition from {measure_name}: {cond}",
                    _entity_of(cond),
                )
        elif fname == "IF" and len(node.args) >= 2:
            cond = node.args[0].render().strip()
            true_v = node.args[1].render().strip()
            false_v = node.args[2].render().strip() if len(node.args) > 2 else ""
            if cond:
                add(
                    f"{measure_name}_Condition",
                    cond,
                    f"classify_as_{_clean(true_v).lower()}",
                    true_v.replace('"', "").strip(),
                    f"IF condition: {cond} then {true_v} else {false_v}",
                    _entity_of(cond),
                )
        elif fname == "SWITCH" and len(node.args) >= 3:
            body = node.args[1:]
            for i in range(0, len(body) - 1, 2):
                cond = body[i].render().strip()
                val = body[i + 1].render().strip()
                if cond:
                    add(
                        f"{measure_name}_Switch_{_clean(val)}",
                        cond,
                        f"classify_as_{_clean(val).lower()}",
                        val.replace('"', "").strip(),
                        f"SWITCH case: {cond} -> {val}",
                        _entity_of(cond),
                    )
    return rules


def identify_dependencies_ast(dax: str) -> list[str]:
    """Dependency set from the token stream: bracket refs →
    Table.Column; Table.* for table-scoped refs (same output contract
    as dax_parser.py:262-287, richer source: quoted table names with
    spaces resolve correctly)."""
    deps = set()
    for t in tokenize(dax):
        if t.kind != "bracket":
            continue
        m = re.match(r"'([^']+)'\[([^\]]*)\]|([\w ]+)\[([^\]]*)\]", t.text)
        if not m:
            continue
        table = (m.group(1) or m.group(3) or "").strip()
        col = (m.group(2) or m.group(4) or "").strip()
        if table and col:
            deps.add(f"{table}.{col}")
            deps.add(f"{table}.*")
        elif table:
            deps.add(f"{table}.*")
    return sorted(deps)
