"""The SPARQL read mix over the synthetic code KG, each read paired with
a DuckDB restatement over the raw string triples that checks its output.

Reads are serialized the way ``de_spark.cli.cmd_query`` serializes them:
SELECT through ``results.iter_csv``, ASK through ``results.ask_to_csv``,
CONSTRUCT/DESCRIBE through ``rdf_writers.render_ntriples``.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

CODE = "http://example.org/code#"
ENT = "http://example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


@dataclass(frozen=True)
class Read:
    name: str
    sparql: str
    oracle: str  # DuckDB SQL over view ``t(s, p, o, graph)``; rows in output order
    ordered: bool  # compare in order (ORDER BY) or as a multiset


@dataclass(frozen=True)
class Consts:
    """Query constants drawn from the seed."""

    hub_mod: int
    hot_mod: int
    union_mods: tuple[int, int]
    repo: str
    fn: str
    lang: str
    file: str


def pick_consts(rng: random.Random, con, repos: list[str]) -> Consts:
    """Draw constants; ``repos`` are the repositories every read may name
    (for the sync workload, those never dropped)."""
    repo = rng.choice(sorted(repos))
    files = [r[0] for r in con.execute(
        f"SELECT DISTINCT s FROM t WHERE p = '{CODE}inRepo' AND o = '{ENT}repo/{repo}' ORDER BY s"
    ).fetchall()]
    n_files = con.execute(f"SELECT COUNT(*) FROM t WHERE p = '{RDF_TYPE}' AND o = '{CODE}File'").fetchone()[0]
    # files and their fn_<fid>_<k> functions are numbered from 0 to n_files-1
    return Consts(
        hub_mod=rng.randrange(10, 20),
        hot_mod=rng.randrange(0, 3),
        union_mods=tuple(rng.sample(range(3, 10), 2)),
        repo=repo,
        fn=f"fn_{rng.randrange(n_files)}_{rng.randrange(8)}",
        lang=rng.choice(["python", "rust"]),
        file=rng.choice(files),
    )


def _nt(col: str) -> str:
    """DuckDB: render a raw term column as an N-Triples term."""
    return f"CASE WHEN {col} LIKE '\"%' OR {col} LIKE '_:%' THEN {col} ELSE '<' || {col} || '>' END"


def read_mix(c: Consts) -> list[Read]:
    """The full read mix: BGP, sequence path, NOT EXISTS, UNION/MINUS,
    OPTIONAL+FILTER, GRAPH ?g, aggregates with ORDER BY/LIMIT, ASK,
    CONSTRUCT and DESCRIBE."""
    imp, inrepo, calls, lang = CODE + "imports", CODE + "inRepo", CODE + "calls", CODE + "lang"
    hub, hot = f"{ENT}module/mod_{c.hub_mod}", f"{ENT}module/mod_{c.hot_mod}"
    ma, mb = (f"{ENT}module/mod_{m}" for m in c.union_mods)
    repo, fn = f"{ENT}repo/{c.repo}", f"{ENT}fn/{c.fn}"
    return [
        Read(
            "hub_bgp",
            f"SELECT DISTINCT ?f WHERE {{ ?f <{imp}> <{hub}> . ?f <{RDF_TYPE}> <{CODE}File> }}",
            f"SELECT DISTINCT s FROM t WHERE p = '{imp}' AND o = '{hub}' AND s IN "
            f"(SELECT s FROM t WHERE p = '{RDF_TYPE}' AND o = '{CODE}File')",
            False,
        ),
        Read(
            "calls_2hop",
            f"SELECT DISTINCT ?c WHERE {{ <{fn}> <{calls}> ?b . ?b <{calls}> ?c }}",
            f"SELECT DISTINCT b.o FROM t a JOIN t b ON a.o = b.s "
            f"WHERE a.s = '{fn}' AND a.p = '{calls}' AND b.p = '{calls}'",
            False,
        ),
        Read(
            "imports_fanin",
            f"SELECT ?m (COUNT(DISTINCT ?f) AS ?n) WHERE {{ ?f <{imp}> ?m }} "
            f"GROUP BY ?m ORDER BY DESC(?n) ?m LIMIT 10",
            f"SELECT o, COUNT(DISTINCT s) AS n FROM t WHERE p = '{imp}' "
            f"GROUP BY o ORDER BY n DESC, o LIMIT 10",
            True,
        ),
        Read(
            "not_exists",
            f"SELECT ?f WHERE {{ ?f <{inrepo}> <{repo}> . "
            f"FILTER NOT EXISTS {{ ?f <{imp}> <{hot}> }} }}",
            f"SELECT s FROM t WHERE p = '{inrepo}' AND o = '{repo}' AND s NOT IN "
            f"(SELECT s FROM t WHERE p = '{imp}' AND o = '{hot}')",
            False,
        ),
        Read(
            "fns_per_repo",
            f"SELECT ?r (COUNT(?fn) AS ?n) WHERE {{ ?fn <{CODE}definedIn> ?f . "
            f"?f <{inrepo}> ?r . ?f <{lang}> \"{c.lang}\" }} GROUP BY ?r ORDER BY ?r",
            f"SELECT b.o AS r, COUNT(*) AS n FROM t a JOIN t b ON a.o = b.s JOIN t l ON l.s = a.o "
            f"WHERE a.p = '{CODE}definedIn' AND b.p = '{inrepo}' AND l.p = '{lang}' "
            f"AND l.o = '\"{c.lang}\"' GROUP BY b.o ORDER BY r",
            True,
        ),
        Read(
            "optional_filter",
            f"SELECT DISTINCT ?f ?m WHERE {{ ?f <{inrepo}> <{repo}> . ?f <{lang}> ?l . "
            f"OPTIONAL {{ ?f <{imp}> ?m . FILTER(?l = \"rust\" && ?m = <{hot}>) }} }}",
            f"SELECT DISTINCT f.s, i.o FROM (SELECT a.s, l.o AS l FROM t a JOIN t l ON l.s = a.s "
            f"WHERE a.p = '{inrepo}' AND a.o = '{repo}' AND l.p = '{lang}') f "
            f"LEFT JOIN t i ON i.s = f.s AND i.p = '{imp}' AND f.l = '\"rust\"' AND i.o = '{hot}'",
            False,
        ),
        Read(
            "union_minus",
            f"SELECT DISTINCT ?f WHERE {{ {{ ?f <{inrepo}> <{repo}> . ?f <{imp}> <{ma}> }} UNION "
            f"{{ ?f <{inrepo}> <{repo}> . ?f <{imp}> <{mb}> }} MINUS {{ ?f <{lang}> \"python\" }} }}",
            f"SELECT DISTINCT s FROM t WHERE p = '{imp}' AND o IN ('{ma}', '{mb}') "
            f"AND s IN (SELECT s FROM t WHERE p = '{inrepo}' AND o = '{repo}') "
            f"AND s NOT IN (SELECT s FROM t WHERE p = '{lang}' AND o = '\"python\"')",
            False,
        ),
        Read(
            "graph_files",
            f"SELECT ?g (COUNT(?f) AS ?n) WHERE {{ GRAPH ?g {{ ?f <{RDF_TYPE}> <{CODE}File> }} }} "
            f"GROUP BY ?g ORDER BY ?g",
            f"SELECT graph, COUNT(*) FROM t WHERE p = '{RDF_TYPE}' AND o = '{CODE}File' "
            f"GROUP BY graph ORDER BY graph",
            True,
        ),
        Read(
            "ask",
            f"ASK {{ ?f <{imp}> <{hub}> }}",
            f"SELECT CASE WHEN EXISTS (SELECT 1 FROM t WHERE p = '{imp}' AND o = '{hub}') "
            f"THEN 'true' ELSE 'false' END",
            True,
        ),
        Read(
            "construct",
            f"CONSTRUCT {{ ?fn <{CODE}inFile> ?f }} WHERE {{ ?fn <{CODE}definedIn> ?f . "
            f"?f <{inrepo}> <{repo}> }}",
            f"SELECT DISTINCT '<' || a.s || '> <{CODE}inFile> <' || a.o || '> .' FROM t a JOIN t b "
            f"ON a.o = b.s WHERE a.p = '{CODE}definedIn' AND b.p = '{inrepo}' AND b.o = '{repo}'",
            False,
        ),
        Read(
            "describe",
            f"DESCRIBE <{c.file}>",
            f"SELECT DISTINCT '<' || s || '> <' || p || '> ' || {_nt('o')} || ' .' "
            f"FROM t WHERE s = '{c.file}'",
            False,
        ),
    ]


# run once, untimed, in set-up: the first read of a process pays for importing
# the query modules and warming the parse/compile/serialize path
WARMUP_READ = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"


def graph_count_read(graph: str) -> str:
    return f"SELECT (COUNT(*) AS ?n) WHERE {{ GRAPH <{graph}> {{ ?s ?p ?o }} }}"


_GRAPH_FORM = re.compile(r"\b(CONSTRUCT|DESCRIBE)\b", re.I)


def run_read(kg, text: str, tr) -> list[str]:
    """Parse, compile, plan and serialize one read; returns the output
    lines (header excluded).  Mirrors ``cli.cmd_query``."""
    from de_spark.query import results as res
    from de_spark.query.sparql import execute, parse_sparql, sparql_construct, sparql_describe, sparql_select
    from de_spark.sources.rdf_writers import render_ntriples

    graph_form = _GRAPH_FORM.search(text)
    if graph_form:
        with tr.span("query.sparql.compile"):
            describe = graph_form.group(1).upper() == "DESCRIBE"
            out = render_ntriples(sparql_describe(kg, text) if describe else sparql_construct(kg, text))
        _plan(out, tr)
        with tr.span("query.results.exec"):
            return [r["line"] for r in out.toLocalIterator()]
    with tr.span("query.parser.parse"):
        parsed = parse_sparql(text)
    if parsed.ask:
        with tr.span("query.sparql.compile"):
            out = execute(kg, parsed).limit(1)
        _plan(out, tr)
        with tr.span("query.results.exec"):
            return [res.ask_to_csv(out.count() > 0)]
    with tr.span("query.sparql.compile"):
        out = sparql_select(kg, text)
    _plan(out, tr)
    with tr.span("query.results.exec"):
        return list(res.iter_csv(out))[1:]


def _plan(df, tr) -> None:
    """Traced runs only: force Catalyst analysis, optimization and
    physical planning so planning time is split from execution."""
    if not tr.enabled:
        return
    with tr.span("catalyst.plan") as s:
        plan = df._jdf.queryExecution().executedPlan()
        s.attrs["plan_nodes"] = plan.treeString().count("\n")


def oracle_lines(con, sql: str) -> list[str]:
    return [",".join("" if v is None else _csv_cell(v) for v in row) for row in con.execute(sql).fetchall()]


def _csv_cell(v) -> str:
    s = str(v)
    if s.startswith('"') and s.endswith('"') and len(s) >= 2:
        return s[1:-1]  # plain literal → its lexical form, as iter_csv prints it
    return s


def matches(read: Read, got: list[str], want: list[str]) -> bool:
    return got == want if read.ordered else sorted(got) == sorted(want)
