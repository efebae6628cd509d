"""Cypher subset → one Spark SQL text (SURVEY.md §2.11).

The reference's ``SimpleQueryParser`` (``graph.py:950-1111``) regex-parses
a single-edge grammar and *executes while parsing* against its in-memory
indexes; here a strictly larger grammar is parsed in full, then compiled
to ONE SQL text over the (nodes, edges) views and run by a single
``spark.sql`` call — the optimizer plans every join of the query at once.

Supported (reference grammar + round-2 extensions):
    MATCH (n:Label {prop: value})                        RETURN …
    MATCH (a…)-[:TYPE]->(b…)-[:TYPE2]->(c…)- …           chains, any length
    MATCH (a…)<-[:TYPE]-(b…)                             reverse edges
    MATCH (a…)-[:TYPE]-(b…)                              undirected edges
    MATCH (a…)-[:TYPE*min..max]->(b…)                    var-length (simple paths)
    MATCH … MATCH …                                      conjunctive patterns
    OPTIONAL MATCH (boundvar)-[:TYPE]->(new…)            left-join semantics
    … OPTIONAL MATCH … MATCH …                           clauses compose in
        order: later inner MATCHes join on shared vars; NULL bindings from
        an earlier OPTIONAL clause survive joins on OTHER variables and
        (correctly) fail joins on the optional variable itself
    [MATCH | OPTIONAL MATCH] … WHERE …                   per-clause WHERE
    WHERE var.prop OP value        (OP ∈ = <> < > <= >=, AND-combined;
                                    value: number, 'text' or "text")
    RETURN var | var.prop | count(var) | count(*) [, …]
           [ORDER BY var[.prop] [ASC|DESC], …] [LIMIT n]

The compiled text: each MATCH clause is one CTE, a join chain node → edge
→ node … over the two views with the clause's label, inline-prop and
pre-join WHERE filters; clauses join on their shared variables' ids
(LEFT JOIN for OPTIONAL MATCH); the other WHERE conditions filter the
joined rows.  A bounded var-length hop ``*lo..hi`` unrolls into one
fixed-length chain per depth d ∈ lo..hi (d edge joins from the bound
start node), the branches combined by UNION ALL — a clause with several
var-length hops unrolls into the product of their depths.  In each
branch the hop's d+1 path nodes are pairwise ``<>``: the oracles'
simple-path walk, so a self-loop binds nothing at depth 1 and no longer
path runs through one.  ``lo`` must be ≥ 1 and ≤ ``hi`` (ValueError).

Parameter binding: every literal of the query text (labels, edge types,
property values, WHERE operands, LIMIT) is a named marker ``:pN`` bound
through ``spark.sql(args=…)``, and every identifier is backtick-quoted,
so user text (``POST /graph/query``) never becomes SQL.  A property or
variable the views lack fails analysis and raises ValueError.  A quoted
value may hold any character but its own quote mark: the literals are
masked before the structural parse, so a comma, brace or keyword inside
one is data.

Aggregate RETURN uses Cypher's implicit grouping (non-aggregate items are
the group keys, named as below; counts are `count_{var}` / `count_all`)
over SET semantics: bindings are deduplicated once, over the bound
variables, after every join — never per hop — so a count over parallel
edges counts distinct bindings, not relationships.

Clause order is (MATCH WHERE?)+ → RETURN.  Output columns are named
``var`` → `var_id`, ``var.prop`` → `var_prop`.  RETURN dedups (the
oracle convention is SELECT DISTINCT); ORDER BY/LIMIT apply after dedup,
and a LIMIT query must order by a unique key for determinism (registry
contract).  Each clause's variables must be distinct within the clause;
a later clause reusing a variable joins on that variable's node id
(inner for MATCH, left for OPTIONAL MATCH).

WHERE placement semantics: a condition on a variable introduced by an
OPTIONAL MATCH filters that clause BEFORE the left join (Cypher's
pattern-predicate semantics — non-qualifying rows become NULL, left rows
survive); every other condition filters the rows bound so far (for inner
MATCH chains the two are equivalent, so this matches Cypher for the
whole supported grammar except bound-var predicates inside an OPTIONAL
clause, which Cypher also nulls but we filter — documented subset).
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame

_NODE_RE = re.compile(r"\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{([^}]*)\})?\s*\)")
_EDGE_RE = re.compile(
    r"(<-|-)\s*\[\s*(?::\s*(\w+))?\s*(?:\*\s*(\d+)\s*\.\.\s*(\d+))?\s*\]\s*(->|-)"
)
_MATCH_RE = re.compile(r"(OPTIONAL\s+)?MATCH\s+", re.IGNORECASE)
_WHERE_AT_RE = re.compile(
    r"\s*WHERE\s+(.+?)(?=\s+RETURN\s+|\s+OPTIONAL\s+|\s+MATCH\s+|\s*$)",
    re.IGNORECASE | re.DOTALL,
)
_COND = r"(\w+)\.(\w+)\s*(<=|>=|<>|=|<|>)\s*('[^']*'|\"[^\"]*\"|-?[\d.]+)"
_COND_RE = re.compile(_COND)
_CONDS_RE = re.compile(rf"\s*{_COND}(?:\s+AND\s+{_COND})*\s*", re.IGNORECASE)
_RETURN_RE = re.compile(
    r"RETURN\s+(.+?)(?:\s+ORDER\s+BY\s+(.+?))?(?:\s+LIMIT\s+(\d+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ITEM_RE = re.compile(r"^(\w+)(?:\.(\w+))?$")
_ORDER_ITEM_RE = re.compile(r"^(\w+)(?:\.(\w+))?(?:\s+(ASC|DESC))?$", re.IGNORECASE)
_AGG_ITEM_RE = re.compile(r"^count\s*\(\s*(\*|\w+)\s*\)$", re.IGNORECASE)
# an undirected hop reads every edge in both directions
_BOTH_WAYS = "(SELECT src, dst, type FROM {edges} UNION ALL SELECT dst, src, type FROM {edges})"


@dataclass
class _NodePat:
    var: str
    label: str | None
    props: dict[str, object] = field(default_factory=dict)


@dataclass
class _EdgePat:
    type: str | None
    lo: int | None
    hi: int | None
    reverse: bool  # True for <-[…]- (pattern read right-to-left)
    undirected: bool = False  # -[…]- matches the edge in either direction


@dataclass
class _Clause:
    optional: bool
    npats: list[_NodePat]
    epats: list[_EdgePat]
    shared: list[str]  # variables bound by earlier clauses: the join keys
    pre: list[tuple[str, str, str, str]]  # WHERE conds filtering the clause itself


def _mask(query: str) -> str:
    """The query with each quoted literal replaced by the hex of its text in
    single quotes, so no comma, brace, quote or keyword inside a value
    reaches the structural regexes; :func:`_parse_value` restores it."""

    def hexed(m: re.Match) -> str:
        if len(m.group()) == 1:
            raise ValueError(f"unbalanced quote in {query!r}")
        return "'" + m.group()[1:-1].encode().hex() + "'"

    return re.sub(r"'[^']*'|\"[^\"]*\"|['\"]", hexed, query)


def _parse_value(v: str):
    if v[0] == "'":  # a literal masked by _mask
        return bytes.fromhex(v[1:-1]).decode()
    return float(v) if "." in v else int(v)


def _parse_props(raw: str | None) -> dict[str, object]:
    if not raw:
        return {}
    out: dict[str, object] = {}
    for part in raw.split(","):
        k, v = part.split(":", 1)
        out[k.strip()] = _parse_value(v.strip())
    return out


def _ws(s: str, pos: int) -> int:
    while pos < len(s) and s[pos].isspace():
        pos += 1
    return pos


def _parse_pattern(s: str, pos: int) -> tuple[list[_NodePat], list[_EdgePat], int]:
    """Parse node (edge node)* starting at `pos`; returns (nodes, edges, end)."""
    m = _NODE_RE.match(s, _ws(s, pos))
    if not m:
        raise ValueError(f"expected node pattern at …{s[pos:pos + 40]!r}")
    nodes = [_NodePat(m.group(1), m.group(2), _parse_props(m.group(3)))]
    edges: list[_EdgePat] = []
    pos = m.end()
    while True:
        em = _EDGE_RE.match(s, _ws(s, pos))
        if not em:
            return nodes, edges, pos
        head, etype, lo, hi, tail = em.groups()
        if head == "<-" and tail == "-":
            reverse, undirected = True, False
        elif head == "-" and tail == "->":
            reverse, undirected = False, False
        elif head == "-" and tail == "-":
            reverse, undirected = False, True
        else:
            raise ValueError(f"double-headed edge pattern <-…-> not supported in {s!r}")
        if lo is not None and not 1 <= int(lo) <= int(hi):
            raise ValueError(f"var-length bounds *{lo}..{hi} need 1 <= min <= max in {s!r}")
        nm = _NODE_RE.match(s, _ws(s, em.end()))
        if not nm:
            raise ValueError(f"dangling edge pattern at …{s[em.start():em.end() + 40]!r}")
        edges.append(
            _EdgePat(etype, int(lo) if lo else None, int(hi) if hi else None, reverse, undirected)
        )
        nodes.append(_NodePat(nm.group(1), nm.group(2), _parse_props(nm.group(3))))
        pos = nm.end()


def _q(*parts: str) -> str:
    """Backtick-quoted identifier `a_b` built from parts joined by '_'."""
    return "`" + "_".join(parts).replace("`", "``") + "`"


def _chain_sql(c: _Clause, depths: tuple, select: str, param) -> str:
    """One fixed-length join chain of clause `c`: node n{i}, hop i's edges
    e{i}_{h}; `depths` fixes each var-length hop's edge count."""
    joins, where = ["{nodes} n0"], []

    def node_filters(i: int, pat: _NodePat) -> None:
        if pat.label:
            where.append(f"array_contains(n{i}.`labels`, {param(pat.label)})")
        where.extend(f"n{i}.{_q(k)} = {param(v)}" for k, v in pat.props.items())
        where.extend(f"n{i}.{_q(prop)} {op} {param(_parse_value(raw))}"
                     for var, prop, op, raw in c.pre if var == pat.var)

    node_filters(0, c.npats[0])
    for i, (ep, d) in enumerate(zip(c.epats, depths)):
        rel = _BOTH_WAYS if ep.undirected else "{edges}"
        s, t = ("dst", "src") if ep.reverse else ("src", "dst")
        path = [f"n{i}.`id`"]
        for h in range(d or 1):
            e = f"e{i}_{h}"
            typed = f" AND {e}.`type` = {param(ep.type)}" if ep.type else ""
            joins.append(f"JOIN {rel} {e} ON {e}.`{s}` = {path[-1]}{typed}")
            path.append(f"{e}.`{t}`")
        joins.append(f"JOIN {{nodes}} n{i + 1} ON n{i + 1}.`id` = {path[-1]}")
        if d is not None:  # simple path: the hop's nodes pairwise distinct
            where.extend(f"{a} <> {b}" for a, b in itertools.combinations(path, 2))
        node_filters(i + 1, c.npats[i + 1])
    return f"SELECT {select} FROM " + "\n  ".join(joins) + (
        "\n  WHERE " + " AND ".join(where) if where else ""
    )


def cypher(nodes: DataFrame, edges: DataFrame, query: str) -> DataFrame:
    """Compile a Cypher-subset query to one SQL text and run it."""
    masked = _mask(query)
    starts = list(_MATCH_RE.finditer(masked))
    if not starts:
        raise ValueError(f"unparseable MATCH clause in {query!r}")

    clauses: list[_Clause] = []
    post: list[tuple[str, str, str, str]] = []
    bound: dict[str, dict[str, None]] = {}  # var → referenced props (ordered)
    for m in starts:
        optional = bool(m.group(1))
        npats, epats, pos = _parse_pattern(masked, m.end())
        clause_vars = [p.var for p in npats]
        if len(set(clause_vars)) < len(clause_vars):
            raise ValueError(f"a variable is repeated within one MATCH clause in {query!r}")
        shared = [v for v in clause_vars if v in bound]
        if not clauses and optional:
            raise ValueError("first clause cannot be OPTIONAL MATCH")
        if clauses and not shared:
            raise ValueError(f"MATCH clause {m.group(0)!r}… shares no variable with earlier clauses")

        # per-clause WHERE: conditions on variables this OPTIONAL clause
        # introduces filter the clause pattern itself (pre-join — Cypher's
        # OPTIONAL MATCH predicate semantics); everything else filters the
        # joined rows
        pre: list[tuple[str, str, str, str]] = []
        wm = _WHERE_AT_RE.match(masked, pos)
        if wm:
            if not _CONDS_RE.fullmatch(wm.group(1)):
                raise ValueError(f"unparseable WHERE clause in {query!r}")
            for cond in _COND_RE.findall(wm.group(1)):
                new_here = cond[0] in clause_vars and cond[0] not in bound
                (pre if optional and new_here else post).append(cond)
        clauses.append(_Clause(optional, npats, epats, shared, pre))
        bound.update((v, {}) for v in clause_vars if v not in bound)

    r = _RETURN_RE.search(masked)
    if not r:
        raise ValueError(f"missing RETURN clause in {query!r}")

    def ref(var: str, prop: str | None) -> str:
        """Output column of `var` / `var.prop`; the prop is projected."""
        if var not in bound:
            raise ValueError(f"unbound variable {var!r} in {query!r}")
        if prop:
            bound[var][prop] = None
        return _q(var, prop or "id")

    items = [i.strip() for i in r.group(1).split(",")]
    select, keys = [], []
    for item in items:
        am, im = _AGG_ITEM_RE.match(item), _ITEM_RE.match(item)
        if am and am.group(1) == "*":
            select.append("count(1) AS `count_all`")
        elif am:
            select.append(f"count({ref(am.group(1), None)}) AS {_q('count', am.group(1))}")
        elif im:
            keys.append(ref(*im.groups()))
            select.append(keys[-1])
        else:
            raise ValueError(f"unparseable RETURN item {item!r}")
    order = []
    for item in r.group(2).split(",") if r.group(2) else []:
        om = _ORDER_ITEM_RE.match(item.strip())
        if not om:
            raise ValueError(f"unparseable ORDER BY item {item!r}")
        var, prop, direction = om.groups()
        order.append(f"{ref(var, prop)} {(direction or 'ASC').upper()}")

    args: dict[str, object] = {}
    names: dict[tuple, str] = {}

    def param(v) -> str:
        """Named parameter marker for a literal; equal literals share one."""
        name = names.setdefault((type(v).__name__, v), f"p{len(names)}")
        args[name] = v
        return f":{name}"

    post_sql = [f"{ref(var, prop)} {op} {param(_parse_value(raw))}" for var, prop, op, raw in post]
    ctes, frm = [], "c0"
    for ci, c in enumerate(clauses):
        cols = [f"n{i}.`id` AS {_q(p.var, 'id')}" for i, p in enumerate(c.npats)] + [
            f"n{i}.{_q(prop)} AS {_q(p.var, prop)}"
            for i, p in enumerate(c.npats) if p.var not in c.shared for prop in bound[p.var]
        ]
        depths = itertools.product(*[range(e.lo, e.hi + 1) if e.lo else [None] for e in c.epats])
        ctes.append(f"c{ci} AS (\n" + "\nUNION ALL\n".join(
            _chain_sql(c, d, ", ".join(cols), param) for d in depths) + "\n)")
        if ci:
            using = ", ".join(_q(v, "id") for v in c.shared)
            frm += f"\n{'LEFT ' if c.optional else ''}JOIN c{ci} USING ({using})"
    where = "\nWHERE " + " AND ".join(post_sql) if post_sql else ""
    if len(keys) == len(items):
        body = f"SELECT DISTINCT {', '.join(select)} FROM {frm}{where}"
    else:  # aggregate RETURN: count distinct bindings, grouped by the keys
        binding = ", ".join(_q(v, p) for v, props in bound.items() for p in ["id", *props])
        body = f"SELECT {', '.join(select)} FROM (SELECT DISTINCT {binding} FROM {frm}{where})"
        body += f" GROUP BY {', '.join(keys)}" if keys else ""
    body += f"\nORDER BY {', '.join(order)}" if order else ""
    body += f"\nLIMIT {param(int(r.group(3)))}" if r.group(3) else ""
    text = "WITH " + ",\n".join(ctes) + "\n" + body
    try:
        return nodes.sparkSession.sql(text, args=args, nodes=nodes, edges=edges)
    except AnalysisException as e:  # e.g. a property the view lacks
        raise ValueError(f"cannot run {query!r}: {str(e).splitlines()[0]}") from e
