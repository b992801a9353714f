"""Seeded SPARQL op streams for the two store workloads.

An op is one SPARQL text plus its decode flag.  Streams are pure functions
of (seed, client): the same seed gives every client the same texts in the
same order, and a different seed draws different constants.  Shapes run in
a fixed round-robin order, so every run holds the same mix of shapes and
the latency distribution keeps its shape from seed to seed.

Constants use the engine's ``<lexical>`` form, also for the name literal:
a quoted literal containing a space fails to parse, and a quoted constant
keeps its quotes (see README.md, "SPARQL dialect gaps").
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from datagen import SF, customer_name, sizes


@dataclass(frozen=True)
class Op:
    shape: str
    text: str
    decode: bool = False


_STAR = (
    "select ?O ?ST ?PR where {{ ?O type Order . ?O placedBy <customer:{c}> ."
    " ?O status ?ST . ?O priority ?PR }}"
)

#: constant-anchored shapes, one round in this order per client; the
#: decoded star repeats the plain star's constant (the decode twin)
LOOKUP_SHAPES = {
    "star": lambda c, st: Op("star", _STAR.format(c=c)),
    "star_decoded": lambda c, st: Op("star_decoded", _STAR.format(c=c), decode=True),
    "ground": lambda c, st: Op(
        "ground", f"select ?X where {{ <customer:{c}> type Customer . ?X placedBy <customer:{c}> }}"
    ),
    "describe": lambda c, st: Op("describe", f"describe <customer:{c}>"),
    "ask": lambda c, st: Op("ask", f"ask {{ ?O placedBy <customer:{c}> . ?O status <{st}> }}"),
    "path2": lambda c, st: Op(
        "path2", f"select ?L ?O where {{ ?L ofOrder ?O . ?O placedBy <customer:{c}> }}"
    ),
    "name": lambda c, st: Op(
        "name", f"select ?C ?N where {{ ?C name <{customer_name(c)}> . ?C inNation ?N }}"
    ),
}

#: Zipf exponent of the customer popularity skew in lookups
ZIPF_S = 1.1
#: closed-loop lookup clients
LOOKUP_CLIENTS = 4


def _zipf_keys(rng: np.random.Generator, n_keys: int, k: int) -> np.ndarray:
    """``k`` draws from a Zipf(ZIPF_S) law over ``n_keys`` keys, ranked by a
    seeded permutation so each seed has its own popular keys."""
    ranks = np.arange(1, n_keys + 1, dtype=float)
    p = ranks**-ZIPF_S
    p /= p.sum()
    order = rng.permutation(n_keys)
    return order[rng.choice(n_keys, size=k, p=p)]


def lookup_stream(seed: int, client: int, rounds: int, warm: bool = False) -> list[Op]:
    """``rounds`` rounds of LOOKUP_SHAPES for one client, the first round
    entered at a shape of its own: a client gets through about one round
    in a run, and if every client started at the first shape a slow run
    would never reach the last ones.  ``warm`` draws from a stream of its
    own, so warm-up texts never shift measured ones."""
    rng = np.random.default_rng([seed, client, int(warm)])
    n_cust = sizes(SF)["customer"]
    per_round = len(LOOKUP_SHAPES) - 1  # the decoded twin reuses the star's key
    keys = _zipf_keys(rng, n_cust, rounds * per_round).reshape(rounds, per_round)
    statuses = rng.choice(["O", "F", "P"], size=rounds)
    ops = []
    for r in range(rounds):
        ks = [int(keys[r][0])] + [int(k) for k in keys[r]]  # star, twin, rest
        for make, c in zip(LOOKUP_SHAPES.values(), ks):
            ops.append(make(c, statuses[r]))
    return ops[client * len(LOOKUP_SHAPES) // LOOKUP_CLIENTS :]


#: whole-graph joins that return aggregates or a top-k; each takes one
#: constant, drawn without replacement from the shape's domain.  The count
#: is odd on purpose: with r whole rounds of k shapes the median falls
#: inside the middle shape's group of r samples, not on the edge between
#: two shapes, where a small shift would move it a whole shape's cost.
ANALYTIC_SHAPES = {
    "cycle5": (
        "select ?N (count(*) as ?cnt) where {{ ?L suppliedBy ?S . ?S inNation ?N ."
        " ?C inNation ?N . ?O placedBy ?C . ?L ofOrder ?O . filter (?N != <nation:{k}>) }}"
        " group by ?N",
        range(25),
    ),
    "samenation": (
        "select (count(*) as ?cnt) where {{ ?L suppliedBy ?S . ?L ofOrder ?O ."
        " ?O placedBy ?C . ?C inNation ?N1 . ?S inNation ?N2 . filter (?N1 = ?N2) ."
        " filter (?N1 != <nation:{k}>) }}",
        range(25),
    ),
    "nested_optional": (
        "select ?C (count(?L) as ?cnt) where {{ ?C type Customer . optional {{"
        " ?O placedBy ?C . optional {{ ?L ofOrder ?O }} }} }} group by ?C"
        " having (count(?L) > {k})",
        range(30, 80),
    ),
    "having_sum": (
        "select ?S (sum(?SZ) as ?tot) where {{ ?L suppliedBy ?S . ?L ofPart ?P ."
        " ?P size ?SZ }} group by ?S having (sum(?SZ) > {k})",
        range(14000, 17000, 25),
    ),
    "count_distinct": (
        "select ?N (count(distinct ?S) as ?ns) (count(*) as ?nr) where {{"
        " ?L suppliedBy ?S . ?S inNation ?N . filter (?N != <nation:{k}>) }} group by ?N",
        range(25),
    ),
    "top_customers": (
        "select ?C (count(?O) as ?cnt) where {{ ?O placedBy ?C . ?C inNation ?N ."
        " filter (?N != <nation:{k}>) }} group by ?C order by desc(?cnt) ?C limit 10",
        range(25),
    ),
    "seq_path": (
        "select ?R (count(*) as ?cnt) where {{ ?L suppliedBy/inNation/inRegion ?R ."
        " ?L ofPart ?P . ?P size ?SZ . filter (?SZ > {k}) }} group by ?R",
        range(1, 50),
    ),
}


def analytic_stream(seed: int) -> tuple[list[Op], list[Op]]:
    """(warm-up round, measured rounds).  The warm-up round takes each
    shape's last permuted constant, measured rounds the others in order,
    so no text repeats in a run."""
    rng = np.random.default_rng([seed, 7])
    perms = {name: [dom[i] for i in rng.permutation(len(dom))] for name, (_, dom) in ANALYTIC_SHAPES.items()}

    def rounds(idx):
        return [Op(name, tmpl.format(k=perms[name][r])) for r in idx for name, (tmpl, _) in ANALYTIC_SHAPES.items()]

    n = min(len(p) for p in perms.values())
    return rounds([n - 1]), rounds(range(n - 1))
