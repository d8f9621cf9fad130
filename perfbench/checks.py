"""Output checks for one benchmark operation.

Every check works on rows already collected to the driver, so it has no
Spark dependency and the self-test below runs in a plain interpreter:

    python3 perfbench/checks.py

The benchmark also runs the self-test at the start of every run.

A check returns a list of problems; an empty list means the graph passed.
"""
from __future__ import annotations

import hashlib


def triple_checksum(triples) -> str:
    """Order-insensitive digest of a (subj, pred, obj) set."""
    h = hashlib.sha256()
    for subj, pred, obj in sorted(set(map(tuple, triples)), key=repr):
        h.update(repr((subj, pred, obj)).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def graph_problems(node_ids, edges, triples, expected: str | None = None):
    """Problems of one built graph.

    ``node_ids``: ids of the ``nodes`` table; ``edges``: (src, dst) pairs
    of the ``edges`` table; ``triples``: the (subj, pred, obj) rows of the
    triple view; ``expected``: the triple checksum another build of the same
    input produced (None skips the comparison).
    """
    problems = []
    ids = set(node_ids)
    dangling = sum(1 for src, dst in edges if src not in ids or dst not in ids)
    if dangling:
        problems.append(f"{dangling} edges with an endpoint missing from nodes")
    nulls = sum(1 for t in triples if any(v is None for v in t))
    if nulls:
        problems.append(f"{nulls} triples with a null subj/pred/obj")
    if not triples:
        problems.append("empty triple set")
    got = triple_checksum(triples)
    if expected is not None and got != expected:
        problems.append(f"triple checksum {got} != {expected}")
    return problems


def self_test() -> None:
    """Raises unless every check rejects a graph corrupted its way."""
    nodes = ["a", "b", "c"]
    edges = [("a", "b"), ("b", "c")]
    triples = [("A", "owns", "B"), ("B", "binds", "C")]
    good = triple_checksum(triples)
    if graph_problems(nodes, edges[::-1], triples[::-1], good):
        raise AssertionError("row order changed the checksum")
    corrupted = {
        "dropped edge": (nodes, edges[:1], triples[:1], good),
        "dangling endpoint": (nodes[:2], edges, triples, good),
        "null field": (nodes, edges, [("A", None, "B"), triples[1]], None),
        "empty graph": ([], [], [], None),
    }
    for what, graph in corrupted.items():
        if not graph_problems(*graph):
            raise AssertionError(f"check accepted a graph with a {what}")


if __name__ == "__main__":
    self_test()
    print("checks self-test passed")
