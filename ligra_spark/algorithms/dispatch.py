"""Backend dispatch: the one place an algorithm call picks its engine.

Three backends compute the same answers (parity pytest-pinned):

- ``closed``: the fused partition-local Arrow kernels (closed.py) over a
  graph with a declared closure key — every neighborhood sits inside
  one closure partition, so all rounds run in one shuffle-free pass.
- ``local``: the same kernels over ``graph.local_view()``, the whole
  edge set coalesced into one partition, when ``m`` is at most
  ``LIGRA_LOCAL_GRAPH_EDGES`` (graph.py:_LocalClosedView).
- ``distributed``: the DataFrame fixpoint loops and joins.

Like Ligra's sparse/dense edgeMap switch (ligra.h:238-259), the choice
is made once, from facts the graph already holds. The closure key is
read first, so a closure-keyed graph never pays a count job; only a
generic graph asks ``fits_local_kernel()``.
"""

from __future__ import annotations

CLOSURE_KEY = "closure key"
INELIGIBLE = "algorithm side condition"
CLOSURE_ONLY = "no closure key"
UNDER_CAP = "m within local cap"
OVER_CAP = "m above local cap"


def choose_backend(graph, *, eligible=True, whole_graph=True, metrics=None):
    """``(backend, reason, view)`` for one algorithm call.

    ``eligible`` is the caller's side condition for the fused kernels
    (e.g. no checkpointer); ``whole_graph=False`` marks callers whose
    only fused route is the closure key. ``view`` is what the kernel
    runs on: ``graph`` for closed, ``graph.local_view()`` for local,
    ``None`` for distributed. When ``metrics`` is given the decision is
    recorded on it as ``metrics.backend`` / ``metrics.reason``."""
    if not eligible:
        backend, reason, view = "distributed", INELIGIBLE, None
    elif getattr(graph, "closed_edges", None) is not None:
        backend, reason, view = "closed", CLOSURE_KEY, graph
    elif not whole_graph:
        backend, reason, view = "distributed", CLOSURE_ONLY, None
    elif graph.fits_local_kernel():
        backend, reason, view = "local", UNDER_CAP, graph.local_view()
    else:
        backend, reason, view = "distributed", OVER_CAP, None
    if metrics is not None:
        metrics.backend, metrics.reason = backend, reason
    return backend, reason, view
