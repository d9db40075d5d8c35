"""Seeded inputs for the two workloads.

Everything the program sees is generated here from ``--seed``: an
``events`` parquet table shaped like the repository's sf test data, the
SPARQL query battery drawn over it, and the shared-prefix label /
candidate dictionaries for entity linking. The same seed gives the same
inputs.
"""

from __future__ import annotations

import itertools
import os
import random

import numpy as np
import pandas as pd

EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]

INST = "http://linkedspending.aksw.org/instance/"
ONT = "http://linkedspending.aksw.org/ontology/"
GRAPH = "http://linkedspending.aksw.org/"
QB = "http://purl.org/linked-data/cube#"
DBO = "http://dbpedia.org/ontology/"

# events per user in the sf test data (sf0.1: 100,000 events, 1,500 users)
EVENTS_PER_USER = 200 / 3


def write_events(path: str, n_events: int, seed: int) -> int:
    """Write ``<path>/events.parquet`` and return its number of users.

    Same columns and distributions as the sf test data: uniform users and
    event types, exponential values, timestamps spread over 30 days in
    event-id order.
    """
    rng = np.random.default_rng(seed)
    n_users = max(1, round(n_events / EVENTS_PER_USER))
    users = rng.permutation(np.arange(n_events) % n_users)  # every user present
    micros = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events))
    df = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pd.to_datetime(micros + 1_704_067_200 * 10**6, unit="us"),
            "user_id": users.astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    os.makedirs(path, exist_ok=True)
    df.to_parquet(f"{path}/events.parquet", index=False, coerce_timestamps="us")
    return n_users


# --- SPARQL battery ---------------------------------------------------------
# Each class is (SPARQL template, DuckDB template over the landed triple
# table ``t``). Both are filled with one seeded conversation ``c`` so every
# request reads a different slice of the store and no answer is cached.
_PREFIXES = f"PREFIX qb: <{QB}>\nPREFIX ls: <{ONT}>\nPREFIX dbo: <{DBO}>\n"

QUERY_CLASSES: dict[str, tuple[str, str]] = {
    "bgp_filter": (
        "SELECT ?obs ?t WHERE {{ ?obs qb:dataSet <{inst}{c}> . "
        "?obs ls:{c}-text ?t . FILTER(CONTAINS(?t, \"{word}\")) }}",
        "SELECT a.s, b.o FROM t a JOIN t b ON a.s = b.s "
        "WHERE a.p = '{qb}dataSet' AND a.o = '{inst}{c}' "
        "AND b.p = '{ont}{c}-text' AND contains(b.o, '{word}')",
    ),
    "optional": (
        "SELECT ?obs ?tool WHERE {{ ?obs qb:dataSet <{inst}{c}> . "
        "OPTIONAL {{ ?obs ls:{c}-tool ?tool }} }}",
        "SELECT a.s, b.o FROM t a LEFT JOIN t b "
        "ON a.s = b.s AND b.p = '{ont}{c}-tool' "
        "WHERE a.p = '{qb}dataSet' AND a.o = '{inst}{c}'",
    ),
    "aggregate": (
        "SELECT ?cur (COUNT(?obs) AS ?n) WHERE {{ ?obs qb:dataSet <{inst}{c}> . "
        "?obs dbo:currency ?cur }} GROUP BY ?cur",
        "SELECT b.o, count(*) FROM t a JOIN t b ON a.s = b.s "
        "WHERE a.p = '{qb}dataSet' AND a.o = '{inst}{c}' "
        "AND b.p = '{dbo}currency' GROUP BY b.o",
    ),
    "path": (
        "SELECT ?obs ?dsd WHERE {{ ?obs qb:dataSet/qb:structure ?dsd . "
        "?obs ls:{c}-role \"{role}\" }}",
        "SELECT r.s, d.o FROM t r JOIN t a ON r.s = a.s JOIN t d ON a.o = d.s "
        "WHERE r.p = '{ont}{c}-role' AND r.o = '{role}' "
        "AND a.p = '{qb}dataSet' AND d.p = '{qb}structure'",
    ),
    "graph_const": (
        "SELECT ?obs ?d WHERE {{ GRAPH <{graph}{c}> {{ ?obs ls:refDate ?d }} }}",
        "SELECT s, o FROM t WHERE dataset = '{c}' AND p = '{ont}refDate'",
    ),
}

ROLES = ["user", "assistant", "tool", "system"]
_CLASS_NAMES = list(QUERY_CLASSES)


def query_battery(n_users: int, seed: int):
    """Endless (class, sparql, duckdb_sql) requests, classes in round-robin
    order so every class gets the same share of requests."""
    rng = random.Random(seed)
    for i in itertools.count():
        name = _CLASS_NAMES[i % len(_CLASS_NAMES)]
        sparql, sql = QUERY_CLASSES[name]
        fill = {
            "c": f"conv-{rng.randrange(n_users)}",
            "word": rng.choice(EVENT_TYPES),
            "role": rng.choice(ROLES),
            "inst": INST,
            "ont": ONT,
            "qb": QB,
            "dbo": DBO,
            "graph": GRAPH,
        }
        yield name, _PREFIXES + sparql.format(**fill), sql.format(**fill)


# --- entity linking -----------------------------------------------------------
# Shared prefixes make most label/candidate pairs collide in the LSH bands,
# so blocking prunes little and most of the cost is pair verification.
_PREFIX_WORDS = ["ministry of", "department for", "federal office of", "agency for"]
_TOPICS = [
    "finance", "health", "education", "transport", "energy", "defence",
    "agriculture", "culture", "justice", "labour", "housing", "science",
]


def link_inputs(n_labels: int, n_candidates: int, seed: int):
    """(labels, candidates, planted) as pandas frames plus the planted
    ``{label_key: uri}`` map.

    Candidate labels are distinct. Half of the labels copy a candidate
    label exactly (the planted matches); the other half are the same kind
    of name with one character changed, so they link with ``sim < 1``.
    """
    rng = random.Random(seed)
    names: set[str] = set()
    while len(names) < n_candidates:
        names.add(
            f"{rng.choice(_PREFIX_WORDS)} {rng.choice(_TOPICS)} "
            f"region {rng.randrange(10 * n_candidates)}"
        )
    clabels = sorted(names)
    rng.shuffle(clabels)
    candidates = pd.DataFrame(
        {"uri": [f"uri:{i}" for i in range(n_candidates)], "clabel": clabels}
    )
    picks = rng.sample(range(n_candidates), n_labels)
    keys, labels, planted = [], [], {}
    for j, i in enumerate(picks):
        key = f"lbl-{j}"
        label = clabels[i]
        if j % 2 == 0:
            planted[key] = f"uri:{i}"
        else:
            pos = rng.randrange(len(label))
            label = label[:pos] + ("x" if label[pos] != "x" else "y") + label[pos + 1 :]
        keys.append(key)
        labels.append(label)
    return pd.DataFrame({"label_key": keys, "label": labels}), candidates, planted
