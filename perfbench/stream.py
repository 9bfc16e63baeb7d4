"""Seeded request generators. Pure Python: no Spark, no timing.

``QueryStream`` turns the repository's query corpora into an endless,
seeded stream of estimate/exact requests. Each request is a corpus
template whose numeric and date range literals are redrawn from the
column's observed values; categorical literals stay as written.
``delta_plan`` and ``curate_inputs`` draw the seeded inputs of the
write phase and of the curation chain. The same seed always gives the
same requests, and the program under test only ever sees the generated
SQL text and row selections.
"""

from __future__ import annotations

import os
import random
import re
from collections import Counter

from datagen import WORDS

CORPORA = [
    ("fixture-light", "fixture_light_queries.sql"),
    ("fixture-ssb", "ssb_cardinality_queries.sql"),
    ("fixture-light", "aqp_queries.sql"),
    ("fixture-ssb", "ssb_aqp_queries.sql"),
]

_LIT = r"(?:DATE '\d{4}-\d{2}-\d{2}'|-?\d+(?:\.\d+)?)"
_COL = r"\b(?P<col>[a-z_]+\.[a-z_]+)"
_BETWEEN = re.compile(_COL + r"\s+(?:NOT\s+)?BETWEEN\s+(?P<lo>" + _LIT + r")\s+AND\s+(?P<hi>" + _LIT + ")")
_CMP = re.compile(_COL + r"\s*(?P<op><=|>=|<(?!>)|>)\s*(?P<v>" + _LIT + ")")
_COUNT = re.compile(r"^SELECT COUNT\(\*\)(?: AS \w+)? FROM ", re.I)


def load_templates(root: str) -> list[str]:
    out = []
    for sub, name in CORPORA:
        with open(os.path.join(root, "benchmarks", sub, name)) as f:
            out.extend(line.strip() for line in f if line.strip())
    return out


def is_count(sql: str) -> bool:
    """True for a plain COUNT(*) request (a cardinality estimate);
    every other template is an AQP request."""
    return bool(_COUNT.match(sql)) and "GROUP BY" not in sql


def tables_of(sql: str) -> set[str]:
    head = sql.split(" FROM ", 1)[1].split(" WHERE ")[0].split(" GROUP BY ")[0]
    return {t.strip() for t in head.split(",")}


def range_sites(sql: str) -> list[tuple[str, int, int, str]]:
    """(column, start, end, role) for every range literal; role is
    'lo' for a lower bound and 'hi' for an upper bound."""
    sites = []
    taken: list[tuple[int, int]] = []
    for m in _BETWEEN.finditer(sql):
        sites.append((m.group("col"), m.start("lo"), m.end("lo"), "lo"))
        sites.append((m.group("col"), m.start("hi"), m.end("hi"), "hi"))
        taken.append((m.start(), m.end()))
    for m in _CMP.finditer(sql):
        if any(a <= m.start() < b for a, b in taken):
            continue
        role = "lo" if m.group("op") in (">", ">=") else "hi"
        sites.append((m.group("col"), m.start("v"), m.end("v"), role))
    return sorted(sites, key=lambda s: s[1])


def range_columns(templates: list[str]) -> list[str]:
    return sorted({s[0] for t in templates for s in range_sites(t)})


def format_literal(value) -> str:
    if isinstance(value, str):
        return f"DATE '{value}'"
    if float(value).is_integer():
        return str(int(value))
    return repr(float(value))


def redraw(sql: str, domains: dict[str, list], rng: random.Random) -> str:
    """Replace each range literal with a value drawn from its column's
    observed values. Lower bounds of one column get the smaller draws,
    so a two-sided range stays a range."""
    sites = range_sites(sql)
    if not sites:
        return sql
    by_col: dict[str, list[int]] = {}
    for i, (col, *_rest) in enumerate(sites):
        by_col.setdefault(col, []).append(i)
    values: dict[int, object] = {}
    for col, idxs in by_col.items():
        draws = sorted(rng.choice(domains[col]) for _ in idxs)
        ordered = sorted(idxs, key=lambda i: (sites[i][3] != "lo", sites[i][1]))
        for i, v in zip(ordered, draws):
            values[i] = v
    out, pos = [], 0
    for i, (_col, start, end, _role) in enumerate(sites):
        out.append(sql[pos:start])
        out.append(format_literal(values[i]))
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def width_pattern(templates: list[str], length: int = 20) -> list[int]:
    """Join widths for one block of ``length`` requests, in proportion
    to the templates' widths and spread evenly through the block, so
    every stretch of the stream has nearly the same mix of 1- to 5-way
    joins whatever the seed."""
    sizes = Counter(len(tables_of(t)) for t in templates)
    total = sum(sizes.values())
    counts = {k: int(length * n / total) for k, n in sizes.items()}
    by_remainder = sorted(sizes, key=lambda k: length * sizes[k] / total - counts[k], reverse=True)
    for k in by_remainder[: length - sum(counts.values())]:
        counts[k] += 1
    slots = sorted(((j + 0.5) / c, k) for k, c in counts.items() for j in range(c))
    return [k for _pos, k in slots]


class QueryStream:
    """Endless seeded request stream. Request ``i`` takes the join
    width ``pattern[i % len(pattern)]``, a template of that width drawn
    uniformly, and literals redrawn from the column domains."""

    def __init__(self, templates: list[str], domains: dict[str, list], seed: int):
        self.by_width: dict[int, list[str]] = {}
        for t in templates:
            self.by_width.setdefault(len(tables_of(t)), []).append(t)
        self.pattern = width_pattern(templates)
        self.domains = domains
        self.rng = random.Random(f"stream-{seed}")
        self.i = 0

    def __iter__(self):
        return self

    def __next__(self) -> str:
        width = self.pattern[self.i % len(self.pattern)]
        self.i += 1
        return redraw(self.rng.choice(self.by_width[width]), self.domains, self.rng)


def distinct_prefix(issued: list[str], n: int, want_count: bool) -> list[str]:
    """The first ``n`` distinct requests of one kind, in issue order."""
    seen, out = set(), []
    for q in issued:
        if q in seen or is_count(q) != want_count:
            continue
        seen.add(q)
        out.append(q)
        if len(out) == n:
            break
    return out


def describe(issued: list[str]) -> dict:
    """Input record of an issued stream: size, mix, join widths and
    the share of requests that exactly repeat an earlier one."""
    n = len(issued)
    if not n:
        return {"requests": 0}
    widths = Counter(len(tables_of(q)) for q in issued)
    n_count = sum(is_count(q) for q in issued)
    return {
        "requests": n,
        "count_share": round(n_count / n, 4),
        "aqp_share": round(1 - n_count / n, 4),
        "join_width_hist": {str(k): widths[k] for k in sorted(widths)},
        "repeated_share": round(1 - len(set(issued)) / n, 4),
    }


def delta_plan(seed: int) -> list[dict]:
    """Seeded write phase over ``lineitem``: insert copies of one row
    selection, delete a second, then one update that replaces the
    inserted copies with the deleted rows, so the data the model
    describes ends where it began. Each selection is 0.5-2% of the
    table, chosen by ``salt``."""
    rng = random.Random(f"deltas-{seed}")
    ins, dele = (
        {"salt": rng.randrange(1 << 30), "frac": round(rng.uniform(0.005, 0.02), 4)}
        for _ in range(2)
    )
    return [
        {"role": "insert", "op": "absorb", "rows": ins},
        {"role": "delete", "op": "remove", "rows": dele},
        {"role": "update", "op": "update", "old": ins, "new": dele},
    ]


def curate_inputs(seed: int, n_docs: int, n_vecs: int) -> dict:
    """Seeded inputs of one curation run: the held-out 20% of the
    documents (probed against an index of the other 80%) and the
    hybrid-retrieval query batch."""
    rng = random.Random(f"curate-{seed}")
    held_out = sorted(rng.sample(range(n_docs), n_docs // 5))
    vec_ids = rng.sample(range(n_vecs), 4)
    return {
        "held_out": held_out,
        "hybrid_queries": [
            {"qid": i + 1, "qtext": " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 4))), "vec_id": v}
            for i, v in enumerate(vec_ids)
        ],
    }
