"""Differential fuzz for the SPARQL Update surface (round 6): random
sequences of INSERT DATA / DELETE DATA / CLEAR / DROP / COPY / MOVE /
ADD executed through ``execute_sparql_update`` against a real store,
compared after every sequence with a naive in-memory quad-set model.

This is the state-mutation counterpart of the query fuzzers: it
exercises the parser's graph-management grammar, the store's
merge/delete/overwrite paths and its manifest commit protocol — under
interleavings no example-based test enumerates. The naive model is
the reference the store's logical content must match.
"""

from __future__ import annotations

import os

from hypothesis import given, settings
from hypothesis import strategies as st

_EXAMPLES = int(os.environ.get("KGAP_FUZZ_EXAMPLES", "15"))

_GRAPHS = ["urn:g:0", "urn:g:1", "urn:g:2"]
_SUBJ = ["u:s0", "u:s1"]
_PRED = ["u:p0", "u:p1"]
_OBJ = ["o1", "o2"]

_quad_st = st.tuples(st.sampled_from(_SUBJ), st.sampled_from(_PRED),
                     st.sampled_from(_OBJ), st.sampled_from(_GRAPHS))

_op_st = st.one_of(
    st.tuples(st.just("insert"), st.lists(_quad_st, min_size=1,
                                          max_size=3, unique=True)),
    st.tuples(st.just("delete"), st.lists(_quad_st, min_size=1,
                                          max_size=2, unique=True)),
    st.tuples(st.just("clear"), st.sampled_from(_GRAPHS)),
    st.tuples(st.just("drop_silent"), st.sampled_from(_GRAPHS)),
    st.tuples(st.just("copy"), st.sampled_from(_GRAPHS),
              st.sampled_from(_GRAPHS)),
    st.tuples(st.just("move"), st.sampled_from(_GRAPHS),
              st.sampled_from(_GRAPHS)),
    st.tuples(st.just("add"), st.sampled_from(_GRAPHS),
              st.sampled_from(_GRAPHS)),
)

_seq_st = st.lists(_op_st, min_size=1, max_size=6)


def _data_block(quads) -> str:
    by_g: dict[str, list] = {}
    for s, p, o, g in quads:
        by_g.setdefault(g, []).append(f'<{s}> <{p}> "{o}" .')
    return " ".join(
        f"GRAPH <{g}> {{ {' '.join(ts)} }}" for g, ts in by_g.items()
    )


def _apply_naive(model: set, op) -> None:
    kind = op[0]
    if kind == "insert":
        model.update(op[1])
    elif kind == "delete":
        model.difference_update(op[1])
    elif kind in ("clear", "drop_silent"):
        model.difference_update({q for q in model if q[3] == op[1]})
    else:
        src, dst = op[1], op[2]
        if src == dst:
            return
        src_rows = {q for q in model if q[3] == src}
        if not src_rows:
            return  # SILENT semantics: absent source → whole op no-ops
        if kind in ("copy", "move"):
            model.difference_update({q for q in model if q[3] == dst})
        model.update((s, p, o, dst) for s, p, o, _ in src_rows)
        if kind == "move":
            model.difference_update(src_rows)


def _render(op) -> str:
    kind = op[0]
    if kind == "insert":
        return f"INSERT DATA {{ {_data_block(op[1])} }}"
    if kind == "delete":
        return f"DELETE DATA {{ {_data_block(op[1])} }}"
    if kind == "clear":
        return f"CLEAR GRAPH <{op[1]}>"
    if kind == "drop_silent":
        return f"DROP SILENT GRAPH <{op[1]}>"
    # COPY/MOVE of an absent source raises in strict form; the fuzz
    # uses SILENT so every sequence is executable, and the naive
    # model mirrors SILENT semantics (absent source → no-op)
    return (f"{kind.upper()} SILENT GRAPH <{op[1]}> "
            f"TO GRAPH <{op[2]}>")


@given(_seq_st)
@settings(max_examples=_EXAMPLES, deadline=None)
def test_update_sequences_match_naive_model(spark, tmp_path_factory, case):
    from kgap_spark.query.sparql import execute_sparql_update
    from kgap_spark.triples import TripleStore

    root = tmp_path_factory.mktemp("updfuzz")
    st_ = TripleStore(spark, str(root / "store"))
    model: set = set()

    for op in case:
        execute_sparql_update(st_, _render(op))
        _apply_naive(model, op)

    got = {(r.subj, r.pred, r.obj, r.graph)
           for r in st_.read().collect()}
    assert got == model, (
        f"divergence after {[_render(o) for o in case]}\n"
        f"store={sorted(got)}\nnaive={sorted(model)}"
    )
    # set semantics: the store must also be duplicate-free
    assert st_.read().count() == len(model)
