"""Cost pins for hostile page shapes: ``parse_document`` stays linear in
the page's bytes on unclosed ``<b>`` runs, deep tables, deep divs and
misnested ``<a><p>``, with and without the DOM print.

Each shape is timed at 4 KB and at 64 KB (best of several runs) and the
per-byte times are compared as a ratio, so the host's speed cancels.  A
linear walk reads about 1x (0.9-1.7x measured); one quadratic step in the
lexer, builder or print would read about 16x.  The 4x ceiling leaves room
for timer noise on a loaded machine.  At 64 KB the DOM print of the
nesting shapes stops at the DOM budget, which keeps that side bounded
too."""

import gc
import time

import pytest

from htmlgraft.job import parse_document

SHAPES = {
    "unclosed_b": "<b>x",
    "deep_table": "<table><tr><td>",
    "deep_div": "<div>",
    "misnested_a_p": "<a href=/x><p>y",
}
CEILING = 4.0


def _per_byte(html: str, include_dom: bool, runs: int) -> float:
    best = float("inf")
    for _ in range(runs):
        t = time.perf_counter()
        parse_document(html, include_dom, True)
        best = min(best, time.perf_counter() - t)
    return best / len(html)


@pytest.mark.parametrize("include_dom", [True, False], ids=["dom", "no_dom"])
@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_hostile_shape_cost_is_linear(shape, include_dom):
    unit = SHAPES[shape]
    small = unit * (4096 // len(unit))
    big = unit * (65536 // len(unit))
    gc_was_on = gc.isenabled()
    gc.disable()
    try:
        ratio = _per_byte(big, include_dom, 3) / _per_byte(small, include_dom, 5)
    finally:
        if gc_was_on:
            gc.enable()
    assert ratio < CEILING, f"{shape}: 64 KB costs {ratio:.1f}x per byte of 4 KB"
